package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact per-key top-k — the one ranking tail every similarity, ANN
  * and graph-walk operator shares, and the one brute-force truth join
  * the recall gates measure their indexes against.
  *
  *  - [[rank]] keeps the `k` best rows per `by` key under `order`,
  *    ties broken to the SMALLER `tie` value. This is the only place
  *    the tie rule is written; every oracle mirrors it as
  *    `ORDER BY score …, id`.
  *  - [[exact]] is the brute-force top-k over (query, corpus) pairs,
  *    self pairs excluded, under any pair score: cosine, integer dot,
  *    squared L2, Hamming. Queries are broadcast and the corpus
  *    streams through [[Spread.byKey]], so the |corpus|×|queries|
  *    score map never runs as one task on an under-split local source
  *    (a no-op at scale, where the scan already splits wide). One
  *    corpus pass, no corpus shuffle at scale.
  *  - [[pairs]] and [[probe]] are the two candidate joins feeding
  *    [[rank]]: all pairs (the [[exact]] input, exposed for callers
  *    that filter on an extra predicate before ranking or carry the
  *    values through) and the bucket/cell equi-join of the ANN probes.
  *    Both drop the query's own row.
  */
object TopK {

  /** `row_number()` over `partitionBy(by).orderBy(order, tie)`, keep
    * `rn <= k`, then expose `rn` as LONG. The filter runs on the raw
    * int row number: Spark's InferWindowGroupLimit only recognises a
    * limit on the window attribute itself, and then plans a
    * WindowGroupLimit (a per-partition top-k) on both sides of the
    * window's exchange. A filter on a cast `rn` would lose it.
    *
    * `order` is a sort column over the score (`col("cos").desc`,
    * `col("adist").asc`); `scored` keeps all its columns.
    */
  def rank(scored: DataFrame, by: String, order: Column, tie: String,
      k: Int): DataFrame = {
    require(k >= 1)
    val w = Window.partitionBy(col(by)).orderBy(order, col(tie).asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .withColumn("rn", col("rn").cast("long"))
  }

  /** All (query, corpus) pairs except self pairs, scored:
    * (neighbor_id, nval, query_id, qval, score) with
    * `score = score(qval, nval)`. `valCol` is read from both frames.
    */
  def pairs(queries: DataFrame, corpus: DataFrame, idCol: String,
      valCol: String, score: (Column, Column) => Column): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(valCol).as("qval"))
    val c = Spread.byKey(
      corpus.select(col(idCol).as("neighbor_id"), col(valCol).as("nval")),
      "neighbor_id")
    c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("score", score(col("qval"), col("nval")))
  }

  /** Exact top-k neighbours of every query row:
    * (query_id, rn, neighbor_id, score), best first by
    * `order(score)` (`_.desc` for similarities, `_.asc` for
    * distances), ties to the smaller neighbour id.
    */
  def exact(queries: DataFrame, corpus: DataFrame, idCol: String,
      valCol: String, score: (Column, Column) => Column,
      order: Column => Column, k: Int): DataFrame =
    rank(pairs(queries, corpus, idCol, valCol, score), "query_id",
        order(col("score")), "neighbor_id", k)
      .select(col("query_id"), col("rn"), col("neighbor_id"), col("score"))

  /** Candidate pairs of an ANN probe: corpus rows (neighbor_id, …)
    * against the broadcast query rows (query_id, …) sharing `keys`
    * (LSH bucket, IVF cell), self pairs removed.
    */
  def probe(corpus: DataFrame, queries: DataFrame, keys: String*): DataFrame =
    corpus.join(broadcast(queries), keys)
      .filter(col("query_id") =!= col("neighbor_id"))
}
