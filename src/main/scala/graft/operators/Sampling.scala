package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation sampling beyond vega's uniform sample (SURVEY §2.7):
  * per-group quotas, the standard move for balancing a training mix.
  */
object Sampling {

  /** Deterministic stratified head: first n rows per group by `orderCol` —
    * reproducible across runs/clusters (window rank, no RNG).
    */
  def stratifiedHead(df: DataFrame, groupCol: String, orderCol: String,
      n: Int): DataFrame = {
    val w = Window.partitionBy(groupCol).orderBy(col(orderCol))
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= n)
      .drop("__rn")
  }
}
