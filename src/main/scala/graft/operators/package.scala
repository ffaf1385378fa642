package graft

import org.apache.spark.sql.DataFrame

package object operators {

  /** Spread an under-split scan across the session's cores (guide §2.5
    * input skew): a small single-file table arrives as ONE scan partition,
    * which serializes every downstream sketch UDF, band/bucket join and
    * pair verify into a single task. Only fires when the scan genuinely
    * under-splits — at real scale the scan already fans out and this is a
    * no-op, never a corpus shuffle.
    */
  private[graft] def spread(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    if (df.rdd.getNumPartitions < sc.defaultParallelism)
      df.repartition(sc.defaultParallelism) else df
  }
}
