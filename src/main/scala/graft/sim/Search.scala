package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The stages every IVF, PQ and IVFPQ search face composes: one
  * candidate-generation pipeline (pack the tiny tables into broadcast
  * rows, route each query to its probed lists, build its ADC lookup
  * table, score the candidates, keep the per-query top-k) and one
  * refinement stage (re-score a shortlist by an exact distance).
  *
  * The fresh, served, filtered and streamed faces differ only in where
  * their inputs come from (an in-session memo, a saved layout, a
  * stream). The scoring algebra they must agree on bit for bit — the
  * decimal-quantized sums, the probe order and the tie order — is
  * defined here once. Every stage is a projection, a broadcast join or
  * the collectTopK aggregate, so the same composition runs on a batch
  * and on a stream.
  */
private[sim] object Search {

  import Pq.{NumSub, SubDim}

  /** The coarse quantizer packed into ONE broadcastable row `cents`:
    * cid-sorted (cid, ce, cn) structs.
    */
  def packCents(cents: DataFrame): DataFrame =
    cents.agg(sort_array(collect_list(
      struct(col("cid"), col("ce"), col("cn")))).as("cents"))

  /** A PQ codebook packed into ONE broadcastable row `cbk`:
    * cid-sorted (cid, ce) structs.
    */
  def packCodebook(codebook: DataFrame): DataFrame =
    codebook.agg(sort_array(collect_list(struct(col("cid"), col("ce"))))
      .as("cbk"))

  /** The query side of a listed corpus: (query_id, eq, nq, extra...)
    * for the rows matching `pred`.
    */
  def queryRows(listed: DataFrame, pred: Column, extra: String*): DataFrame =
    listed.filter(pred).select(Seq(col("vec_id").as("query_id"),
      col("embedding").as("eq"), col("nsq").as("nq")) ++ extra.map(col): _*)

  /** Probe routing, one projection over the packed quantizer: each
    * (query_id, eq, nq, ...) row scores every centroid by the
    * quantized-dot cosine, sorts by (negcos, cid) — cosine descending,
    * ties to the smaller cid, and nothing ties past cid — and explodes
    * its first [[Ivf.GivenProbe]] lists as `list_id`. The flat route
    * keeps every query column; the `residual` (IVFPQ) route replaces
    * eq and nq with `qres` = eq − the probed centroid, in doubles.
    */
  def probes(queries: DataFrame, cents: DataFrame,
      residual: Boolean = false): DataFrame = {
    val carry = queries.columns.toSeq
    val kept = if (residual) carry.filterNot(Set("eq", "nq")) else carry
    val slice =
      s"""slice(array_sort(transform(cents, c -> named_struct(
         |  'negcos', -(qdot(eq, c.ce) / (sqrt(nq) * sqrt(c.cn))),
         |  'cid', c.cid, 'ce', c.ce))), 1, ${Ivf.GivenProbe})""".stripMargin
    val qres = expr("zip_with(eq, p.ce, " +
      "(x, c) -> cast(x as double) - cast(c as double))").as("qres")
    queries.crossJoin(broadcast(packCents(cents)))
      .select(carry.map(col) :+ explode(expr(slice)).as("p"): _*)
      .select(kept.map(col) ++ Seq(col("p.cid").as("list_id")) ++
        (if (residual) Seq(qres) else Nil): _*)
  }

  /** Exact in-list scoring of the flat IVF faces: probe rows meet the
    * listed candidates (vec_id, embedding, nsq, keys...) that share
    * their `keys`, scored by the decimal-quantized cosine.
    */
  def cosines(probes: DataFrame, listed: DataFrame,
      keys: Seq[String]): DataFrame =
    probes.join(listed.select(Seq(col("vec_id").as("neighbor_id"),
        col("embedding").as("ec"), col("nsq").as("nc")) ++ keys.map(col): _*),
        keys)
      .withColumn("cosine",
        Vectors.cosineFrom(Vectors.dot("eq", "ec"), col("nq"), col("nc")))

  private val LutKeyStep: Long = 1L << 32

  /** The ADC lookup table as ONE map column `lutmap` per row of `rows`:
    * key m·2³² + cid (collision-free, cids are vec_ids far below 2³²),
    * value the quantized squared L2 between subspace m of `vec` and
    * codeword cid ([[graft.plans.QuantFold]]). Every other column of
    * `rows` rides along as the table's key: query_id for flat PQ,
    * (query_id, list_id) for IVFPQ.
    */
  def lut(rows: DataFrame, codebook: DataFrame, vec: String): DataFrame = {
    val entries = (0 until NumSub).map(m =>
      s"transform(cbk, c -> named_struct('k', ${m * LutKeyStep}L + c.cid, " +
        s"'v', qdistsq($vec, c.ce, ${m * SubDim}, $SubDim)))")
    rows.crossJoin(broadcast(packCodebook(codebook)))
      .select(rows.columns.toSeq.filterNot(_ == vec).map(col) :+
        expr(s"map_from_entries(concat(${entries.mkString(", ")}))")
          .as("lutmap"): _*)
  }

  /** The ADC distance over [[lut]]: Σ_m of the candidate's code_m
    * lookups, each cast to decimal(24,12), the sum cast to double.
    * Decimal addition is exact, so the sum is order-free and equals
    * the DuckDB oracle's grouped SUM of the same addends.
    */
  def lutDist: Column =
    expr(s"cast(${(0 until NumSub).map(m =>
      s"cast(element_at(lutmap, ${m * LutKeyStep}L + code_$m) " +
        "as decimal(24,12))").mkString(" + ")} as double)")

  /** ADC scoring: candidates (vec_id[, list_id], code_0..) meet the
    * broadcast lookup table on the columns the two share — list_id for
    * a per-(query, list) table, none (every query) for a flat one —
    * and `adist` scores each pair with zero per-candidate vector
    * arithmetic. Output (query_id, neighbor_id[, list_id], adist,
    * sim = −adist).
    */
  def adc(cand: DataFrame, lut: DataFrame, adist: Column = lutDist): DataFrame = {
    val keys = lut.columns.toSeq.filter(cand.columns.contains)
    cand.join(broadcast(lut), keys)
      .select(Seq(col("query_id"), col("vec_id").as("neighbor_id")) ++
        keys.map(col) :+ adist.as("adist"): _*)
      .withColumn("sim", -col("adist"))
  }

  /** Per-query top-k, nearest first, ties to the smaller neighbor_id
    * ([[graft.plans.AggExpressions.topKPerKey]]): (query_id, rank,
    * neighbor_id, score, payload...). `score` ranks higher first; the
    * distance faces rank by `sim` = −distance, which is dropped (their
    * distance rides in `payload`). Batch results sort by (query_id,
    * rank); streams and shortlists pass `sorted = false`.
    */
  def topK(scored: DataFrame, score: String, payload: Seq[String], k: Int,
      sorted: Boolean = true): DataFrame = {
    val top = graft.plans.AggExpressions
      .topKPerKey(scored, "query_id", score, "neighbor_id", payload, k)
      .drop("sim")
    if (sorted) top.orderBy("query_id", "rank") else top
  }

  /** The refine stage of every rerank face: the shortlist's
    * (query_id, neighbor_id, adist) rows take their query vector `eq`
    * from the broadcast `queries`, are broadcast into the `corpus`
    * (vec_id, embedding) scan for the raw candidate vector, and are
    * re-ranked by `dist` — (query_id, rank, neighbor_id, dist, adist).
    * The exact metric touches queries × R rows, never the corpus.
    */
  def refine(shortlist: DataFrame, queries: DataFrame, corpus: DataFrame,
      dist: (Column, Column) => Column, k: Int): DataFrame = {
    val withQ = shortlist.select("query_id", "neighbor_id", "adist")
      .join(broadcast(queries), "query_id")
    val scored = corpus
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("en"))
      .join(broadcast(withQ), "neighbor_id")
      .withColumn("dist", dist(col("eq"), col("en")))
      .withColumn("sim", -col("dist"))
    topK(scored, "sim", Seq("dist", "adist"), k)
  }
}
