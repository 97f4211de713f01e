package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryModule
import graft.sources.Tables

/** Principal-component extraction over the embedding corpus
  * (SURVEY §2 G14): the centered covariance's top eigenvector by
  * POWER ITERATION — the whitening / dimensionality / drift
  * diagnostic an embedding pipeline runs before committing an index
  * geometry (is the corpus effectively low-rank? how much variance
  * does one direction carry?).
  *
  * Scale shape: the covariance build is the ONLY corpus-sized pass —
  * each vector emits its d(d+1)/2 upper-triangle products in one
  * map-side generate (no self-join, no shuffle of pair rows before
  * partial aggregation), giving a d²-row matrix frame at any corpus
  * size. The iteration then runs entirely on that tiny frame: per
  * round one co-partitioned (matrix × vector) join + one combinable
  * sum — the F12 pagerank discipline applied to linear algebra, with
  * an eager checkpoint per round.
  *
  * Cross-engine parity: every reduction quantizes its double terms to
  * DECIMAL(24,12) before the order-free decimal sum; the mean /
  * normalize / Rayleigh divisions and sqrt are single IEEE double
  * ops on bit-identical inputs. The oracle unrolls the [[Rounds]]
  * fixed rounds as chained CTEs (the E2/F12 pattern).
  */
object Pca extends QueryModule {

  val Dim = 64

  /** Fixed power-iteration rounds (unrolled in the oracle). */
  val Rounds = 10

  /** The iteration start: x0_j = (65 + j)/1024 — exact-dyadic,
    * deterministic, and NON-UNIFORM: a constant start is exactly
    * orthogonal to any direction whose coordinates sum to zero
    * (alternating-sign embeddings do this in practice), which would
    * zero the first iterate; a strictly increasing start is
    * orthogonal only to a measure-zero set of directions.
    */
  def x0(j: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (j.cast("double") + lit(65.0d)) / lit(1024.0d)

  private def q12(c: org.apache.spark.sql.Column) =
    c.cast("decimal(24,12)")

  /** Upper-triangle second-moment sums + per-dim sums in ONE pass:
    * (i, j, s2) for i ≤ j with s2 = Σ_vec quantized(v_i · v_j).
    */
  private def moments(emb: DataFrame): (DataFrame, DataFrame, Long) = {
    val spark = emb.sparkSession
    val e = graft.Par.spread(emb.select("embedding"))
    val n = emb.count()
    // ONE corpus pass (r19): the former relational form scanned the
    // corpus three times in the collect job (the pair explode once,
    // the value explode twice — `sums` feeds two join branches) and
    // built the per-element decimal structs in interpreted nested
    // transforms. UpperTriQuant emits every vector's dim(dim+1)/2
    // quantized products PLUS its dim quantized values as one flat
    // array in a tight loop; one posexplode + one position-keyed sum
    // aggregates everything, and the tiny cell frame is checkpointed
    // so the two downstream branches read 2144 rows, not the corpus.
    // Cell values are bit-identical: same per-term quantization, and
    // decimal SUM is order-free.
    val nPairs = Dim * (Dim + 1) / 2
    val cells = e.select(posexplode(
        graft.plans.VectorExpressions.upperTriQuant(col("embedding"), Dim))
        .as(Seq("pos", "p")))
      .groupBy("pos").agg(sum("p").cast("double").as("s"))
      .localCheckpoint(true)
    // pos → (i, j) for the row-major upper triangle; a 2k-row driver
    // table broadcast-joined beats an inverse-triangular formula for
    // auditability
    import spark.implicits._
    val posMap = (for { i <- 0 until Dim; j <- i until Dim }
      yield (i * Dim - i * (i - 1) / 2 + (j - i), i, j))
      .toDF("pos", "i", "j")
    val m2 = cells.filter(col("pos") < nPairs)
      .join(broadcast(posMap), "pos")
      .select(col("i"), col("j"), col("s").as("s2"))
    val sums = cells.filter(col("pos") >= nPairs)
      .select((col("pos") - nPairs).cast("int").as("i"), col("s").as("sv"))
    (m2, sums, n)
  }

  /** Full symmetric centered covariance (i, j, c) from the triangle
    * sums — the mirrored cell reuses the SAME sum, so symmetry is
    * exact by construction. Consumed exactly once, by [[collectCov]]'s
    * driver collect (no checkpoint needed — nothing re-reads it).
    */
  private def covFull(emb: DataFrame): DataFrame = {
    val (m2, sums, n) = moments(emb)
    val upper = m2.join(sums.select(col("i"), col("sv").as("svi")), "i")
      .join(sums.select(col("i").as("j"), col("sv").as("svj")), "j")
      .withColumn("c", col("s2") / n
        - (col("svi") / n) * (col("svj") / n))
      .select("i", "j", "c")
    upper.unionByName(
        upper.filter(col("i") =!= col("j"))
          .select(col("j").as("i"), col("i").as("j"), col("c")))
  }

  // ---- driver-side eigensolve over the collected d² summary --------
  //
  // The covariance is a Dim²-cell summary (64×64 = 4096 doubles) —
  // corpus-INDEPENDENT. Iterating on it as distributed 4096-row
  // frames costs one Spark job per round (r·Rounds scheduler round
  // trips + checkpoints) and computes nothing the driver can't do in
  // microseconds; collecting the summary and solving locally is the
  // standard shape (Spark ML's RowMatrix.computePrincipalComponents
  // collects the Gramian and solves on the driver). The arithmetic
  // below replicates the oracle's relational form EXACTLY: every
  // product term quantized to decimal(24,12) half-up (same as the
  // SQL cast), summed exactly (decimal addition is order-free), cast
  // to double via BigDecimal.doubleValue — bit-identical to the
  // previous distributed implementation and to DuckDB.

  private def d12(x: Double): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(x)
      .setScale(12, java.math.RoundingMode.HALF_UP)

  /** SQL `sum` over nullable terms: null terms are SKIPPED, a sum
    * with no non-null term is null — the exact aggregate semantics
    * the previous distributed form (and the oracle) apply to null
    * covariance cells (an all-null dimension, a decimal-overflow
    * nulled s2).
    */
  private def dsumOpt(terms: Iterator[Option[Double]]): Option[Double] = {
    var acc = java.math.BigDecimal.ZERO
    var any = false
    terms.foreach {
      case Some(v) => acc = acc.add(d12(v)); any = true
      case None =>
    }
    if (any) Some(acc.doubleValue) else None
  }

  /** A Dim×Dim matrix of nullable cells — null cells propagate
    * through [[applyCov]] like SQL nulls through `sum(c * x)`.
    */
  private type CovM = Array[Array[Option[Double]]]

  /** Collect the (i, j, c) frame into a dense Dim×Dim matrix; None
    * for an empty corpus (the frame has no rows). A null CELL (e.g.
    * a dimension null in every vector) stays None inside the matrix
    * rather than throwing — the degrade-not-throw contract.
    */
  private def collectCov(cov: DataFrame): Option[CovM] = {
    val rows = cov.collect()
    if (rows.isEmpty) None
    else {
      val m: CovM = Array.fill(Dim, Dim)(None)
      rows.foreach(r => m(r.getInt(0))(r.getInt(1)) =
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))
      Some(m)
    }
  }

  /** w = C·x with the oracle's quantized sum; a term with a null
    * cell or null iterate coordinate is skipped exactly as SQL
    * `sum(CAST(c * x AS DECIMAL))` skips null products, and a row
    * whose every term is null sums to null.
    */
  private def applyCov(m: CovM,
      x: Array[Option[Double]]): Array[Option[Double]] =
    m.map(row => dsumOpt(Iterator.range(0, Dim).map(j =>
      for { c <- row(j); xj <- x(j) } yield c * xj)))

  /** [[Rounds]] power-iteration rounds → the unit iterate. The
    * nullif guard of the relational form is replicated: a zero
    * matrix gives nv = 0 → null loadings, never a division crash.
    */
  private def iterateLocal(m: CovM): Array[Option[Double]] = {
    var x: Array[Option[Double]] =
      Array.tabulate(Dim)(j => Some((j.toDouble + 65.0d) / 1024.0d))
    for (_ <- 1 to Rounds) {
      val w = applyCov(m, x)
      // sqrt over the null-skipping sum: null only when EVERY w is null
      val nv: Option[Double] =
        dsumOpt(w.iterator.map(_.map(v => v * v))).map(math.sqrt)
      x = w.map {
        case Some(a) => nv match {
          case Some(b) if b != 0.0d => Some(a / b)
          case _ => None
        }
        case None => None
      }
    }
    x
  }

  /** Rayleigh eigenvalue of iterate `x` on matrix `m` — the same
    * null-skipping sum as the oracle's `sum(x.x * wf.w)`.
    */
  private def rayleighLocal(m: CovM,
      x: Array[Option[Double]]): Option[Double] = {
    val w = applyCov(m, x)
    dsumOpt(Iterator.range(0, Dim).map(i =>
      for { xi <- x(i); wi <- w(i) } yield xi * wi))
  }

  private def trLocal(m: CovM): Option[Double] =
    dsumOpt(Iterator.range(0, Dim).map(i => m(i)(i)))

  // The collected matrix memoized per (session, corpus plan): pca1
  // and pcaR on the same corpus share the single corpus-sized pass.
  private def covOf(emb: DataFrame): Option[CovM] =
    graft.Memo.once("Pca.covOf", emb.sparkSession,
      graft.Memo.planKey(emb))(collectCov(covFull(emb)))

  /** G14 — `embedding_pca`: (dim, loading, eigval, explained) — the
    * unit top eigenvector of the centered covariance, its Rayleigh
    * eigenvalue, and the variance share it explains.
    */
  def pca1(emb: DataFrame): DataFrame = {
    val spark = emb.sparkSession
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("dim",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("loading",
        org.apache.spark.sql.types.DoubleType, nullable = true),
      org.apache.spark.sql.types.StructField("eigval",
        org.apache.spark.sql.types.DoubleType, nullable = true),
      org.apache.spark.sql.types.StructField("explained",
        org.apache.spark.sql.types.DoubleType, nullable = true)))
    covOf(emb) match {
      case None =>
        spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
      case Some(m) =>
        val x = iterateLocal(m)
        val eig = rayleighLocal(m, x)
        val tr = trLocal(m)
        // eigval / NULLIF(tr, 0): null when tr is null or zero
        val expl = for { e <- eig; t <- tr if t != 0.0d } yield e / t
        val rows: java.util.List[org.apache.spark.sql.Row] =
          new java.util.ArrayList
        (0 until Dim).foreach { j =>
          rows.add(org.apache.spark.sql.Row(j,
            x(j).map(Double.box).orNull,
            eig.map(Double.box).orNull,
            expl.map(Double.box).orNull))
        }
        spark.createDataFrame(rows, schema).orderBy("dim")
    }
  }

  /** Components for the top-r variant — fixed so the oracle's
    * unrolled CTE chain and the Spark loop agree by construction.
    */
  val TopR = 4

  /** G14b — `embedding_pca_r`: top-[[TopR]] components by HOTELLING
    * DEFLATION: extract the top eigenvector, subtract its rank-1 term
    * (C ← C − λ·vvᵀ), repeat. Each deflation and re-iteration runs on
    * the Dim²-row matrix frame only — the corpus is touched exactly
    * once (the covariance build), so top-r costs the same single
    * corpus pass as top-1 plus O(r·Rounds) tiny-frame rounds.
    * `explained` is each λ over the ORIGINAL trace (variance share of
    * the total, the scree-plot number).
    */
  def pcaR(emb: DataFrame, r: Int = TopR): DataFrame = {
    val spark = emb.sparkSession
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("component",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("dim",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("loading",
        org.apache.spark.sql.types.DoubleType, nullable = true),
      org.apache.spark.sql.types.StructField("eigval",
        org.apache.spark.sql.types.DoubleType, nullable = true),
      org.apache.spark.sql.types.StructField("explained",
        org.apache.spark.sql.types.DoubleType, nullable = true)))
    covOf(emb) match {
      case None =>
        spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
      case Some(m0) =>
        val tr = trLocal(m0)
        // degenerate cells (null loading / eigval / cov cell) deflate
        // to NULL cells in the relational form (c − λ·x_i·x_j with a
        // null operand) — modeled per-cell, matching SQL null
        // propagation through the cov{c+1} CTE
        var m: CovM = m0
        val rows: java.util.List[org.apache.spark.sql.Row] =
          new java.util.ArrayList
        for (comp <- 1 to r) {
          val x = iterateLocal(m)
          val eig = rayleighLocal(m, x)
          // eigval / NULLIF(tr, 0): null when tr is null or zero
          val expl = for { e <- eig; t <- tr if t != 0.0d } yield e / t
          (0 until Dim).foreach { j =>
            rows.add(org.apache.spark.sql.Row(comp, j,
              x(j).map(Double.box).orNull,
              eig.map(Double.box).orNull,
              expl.map(Double.box).orNull))
          }
          if (comp < r) {
            // deflate: c ← c − λ·x_i·x_j — plain doubles in the same
            // association as the oracle's `c - eigval * xi.x * xj.x`,
            // null when any operand is null
            val prev = m
            m = Array.tabulate(Dim, Dim)((i, j) =>
              for { c <- prev(i)(j); e <- eig; xi <- x(i); xj <- x(j) }
                yield c - e * xi * xj)
          }
        }
        spark.createDataFrame(rows, schema).orderBy("component", "dim")
    }
  }

  /** Bench build entry: materialize the memoized covariance summary
    * (the single corpus-sized pass shared by embedding_pca and
    * embedding_pca_r) so each query bills only its marginal solve —
    * the same separate-billing discipline as the neardup/tfidf/gbt
    * builds. Constructs the exact frame the queries pass to [[covOf]]
    * so the plan key matches.
    */
  def prebuild(spark: SparkSession, dir: String): Unit = {
    covOf(Tables.embeddings(spark, dir).select("vec_id", "embedding")); ()
  }

  def pcaQ(spark: SparkSession, dir: String): DataFrame =
    pca1(Tables.embeddings(spark, dir).select("vec_id", "embedding"))

  def pcaRQ(spark: SparkSession, dir: String): DataFrame =
    pcaR(Tables.embeddings(spark, dir).select("vec_id", "embedding"))

  override def queries: Map[String, Q] = Map(
    "embedding_pca" -> (pcaQ _),
    "embedding_pca_r" -> (pcaRQ _))

  /** One unrolled power-iteration round over the `cov` CTE. Every
    * per-round CTE is MATERIALIZED: wk is referenced twice (norm +
    * update), so DuckDB's default per-reference inlining would double
    * the chain's work each round (~2^Rounds blowup).
    */
  private def roundCte(k: Int): String = {
    val (xp, w, nm, xk) = (s"x${k - 1}", s"w$k", s"n$k", s"x$k")
    s"""$w AS MATERIALIZED (SELECT cov.i,
       |    CAST(CAST(sum(CAST(CAST(c * x AS VARCHAR) AS DECIMAL(24,12))) AS VARCHAR) AS DOUBLE) AS w
       |  FROM cov JOIN $xp ON cov.j = $xp.j GROUP BY 1),
       |$nm AS MATERIALIZED (SELECT sqrt(CAST(CAST(sum(CAST(CAST(w * w AS VARCHAR) AS DECIMAL(24,12)))
       |    AS VARCHAR) AS DOUBLE)) AS nv FROM $w),
       |$xk AS MATERIALIZED (SELECT i AS j, w / NULLIF(nv, 0) AS x
       |  FROM $w, $nm)"""
  }

  /** One unrolled round for component `c` of the top-r oracle —
    * same shape as [[roundCte]] with per-component CTE names and the
    * component's (possibly deflated) matrix cov{c}.
    */
  private def roundCteR(c: Int, k: Int): String = {
    val (xp, w, nm, xk) = (s"x${c}_${k - 1}", s"w${c}_$k", s"n${c}_$k", s"x${c}_$k")
    s"""$w AS MATERIALIZED (SELECT cov$c.i,
       |    CAST(CAST(sum(CAST(CAST(c * x AS VARCHAR) AS DECIMAL(24,12))) AS VARCHAR) AS DOUBLE) AS w
       |  FROM cov$c JOIN $xp ON cov$c.j = $xp.j GROUP BY 1),
       |$nm AS MATERIALIZED (SELECT sqrt(CAST(CAST(sum(CAST(CAST(w * w AS VARCHAR) AS DECIMAL(24,12)))
       |    AS VARCHAR) AS DOUBLE)) AS nv FROM $w),
       |$xk AS MATERIALIZED (SELECT i AS j, w / NULLIF(nv, 0) AS x
       |  FROM $w, $nm)""".stripMargin
  }

  /** Component `c`'s CTE block: start from the shared xinit, unroll
    * [[Rounds]] rounds, take the Rayleigh eigenvalue, and (unless
    * last) emit the deflated matrix cov{c+1} = cov{c} − λ·vvᵀ.
    */
  private def compCtes(c: Int, last: Boolean): String = {
    val xn = s"x${c}_$Rounds"
    val base = Seq(
      s"x${c}_0 AS (SELECT j, x FROM xinit)",
      (1 to Rounds).map(roundCteR(c, _)).mkString(",\n"),
      s"""wf$c AS MATERIALIZED (SELECT cov$c.i,
         |    CAST(CAST(sum(CAST(CAST(c * x AS VARCHAR) AS DECIMAL(24,12))) AS VARCHAR) AS DOUBLE) AS w
         |  FROM cov$c JOIN $xn ON cov$c.j = $xn.j GROUP BY 1)""".stripMargin,
      s"""eig$c AS MATERIALIZED (SELECT CAST(CAST(sum(CAST(CAST(x.x * wf$c.w AS VARCHAR)
         |    AS DECIMAL(24,12))) AS VARCHAR) AS DOUBLE) AS eigval
         |  FROM $xn x JOIN wf$c ON x.j = wf$c.i)""".stripMargin
    ).mkString(",\n")
    if (last) base else base + s""",
      |cov${c + 1} AS MATERIALIZED (SELECT cov$c.i, cov$c.j,
      |    c - eigval * xi.x * xj.x AS c
      |  FROM cov$c JOIN $xn xi ON cov$c.i = xi.j
      |    JOIN $xn xj ON cov$c.j = xj.j
      |    CROSS JOIN eig$c)""".stripMargin
  }

  private def pcaROracle: String = {
    val comps = (1 to TopR).map(c => compCtes(c, c == TopR)).mkString(",\n")
    val union = (1 to TopR).map(c =>
      s"SELECT $c AS component, x.j AS dim, x.x AS loading, eigval " +
        s"FROM x${c}_$Rounds x, eig$c").mkString(" UNION ALL ")
    s"""WITH comp AS MATERIALIZED (SELECT vec_id,
       |    CAST(i AS INT) - 1 AS i,
       |    CAST(CAST(embedding[CAST(i AS INT)] AS FLOAT) AS DOUBLE) AS v
       |  FROM embeddings, UNNEST(range(1, ${Dim + 1})) u(i)),
       |nn AS (SELECT count(*) AS n FROM embeddings),
       |m2 AS (SELECT a.i, b.i AS j,
       |    CAST(CAST(sum(CAST(CAST(a.v * b.v AS VARCHAR) AS DECIMAL(24,12))) AS VARCHAR) AS DOUBLE) AS s2
       |  FROM comp a JOIN comp b
       |    ON a.vec_id = b.vec_id AND a.i <= b.i
       |  GROUP BY 1, 2),
       |sums AS (SELECT i, CAST(CAST(sum(CAST(CAST(v AS VARCHAR) AS DECIMAL(24,12))) AS VARCHAR) AS DOUBLE)
       |    AS sv FROM comp GROUP BY i),
       |upper_c AS (SELECT m2.i, m2.j,
       |    s2 / n - (sa.sv / n) * (sb.sv / n) AS c
       |  FROM m2 JOIN sums sa ON m2.i = sa.i
       |           JOIN sums sb ON m2.j = sb.i
       |           CROSS JOIN nn),
       |cov1 AS MATERIALIZED (SELECT i, j, c FROM upper_c
       |  UNION ALL SELECT j AS i, i AS j, c FROM upper_c WHERE i <> j),
       |xinit AS (SELECT CAST(i AS INT) AS j,
       |    (CAST(i AS DOUBLE) + 65.0) / 1024.0 AS x
       |  FROM UNNEST(range(0, $Dim)) u(i)),
       |tr AS (SELECT CAST(CAST(sum(CAST(CAST(c AS VARCHAR) AS DECIMAL(24,12))) AS VARCHAR) AS DOUBLE) AS tr
       |  FROM cov1 WHERE i = j),
       |$comps
       |SELECT component, dim, loading, eigval,
       |  eigval / NULLIF(tr, 0) AS explained
       |FROM ($union) u, tr
       |ORDER BY component, dim""".stripMargin
  }

  override def oracles: Map[String, String] = Map(
    "embedding_pca_r" -> pcaROracle,
    // comp/cov AS MATERIALIZED: DuckDB inlines plain CTEs per
    // reference, and the 10 unrolled rounds each reference cov —
    // un-materialized, the parquet scan multiplies past the fd limit
    "embedding_pca" -> (s"""WITH comp AS MATERIALIZED (SELECT vec_id,
      |    CAST(i AS INT) - 1 AS i,
      |    CAST(CAST(embedding[CAST(i AS INT)] AS FLOAT) AS DOUBLE) AS v
      |  FROM embeddings, UNNEST(range(1, ${Dim + 1})) u(i)),
      |nn AS (SELECT count(*) AS n FROM embeddings),
      |m2 AS (SELECT a.i, b.i AS j,
      |    CAST(CAST(sum(CAST(CAST(a.v * b.v AS VARCHAR) AS DECIMAL(24,12))) AS VARCHAR) AS DOUBLE) AS s2
      |  FROM comp a JOIN comp b
      |    ON a.vec_id = b.vec_id AND a.i <= b.i
      |  GROUP BY 1, 2),
      |sums AS (SELECT i, CAST(CAST(sum(CAST(CAST(v AS VARCHAR) AS DECIMAL(24,12))) AS VARCHAR) AS DOUBLE)
      |    AS sv FROM comp GROUP BY i),
      |upper_c AS (SELECT m2.i, m2.j,
      |    s2 / n - (sa.sv / n) * (sb.sv / n) AS c
      |  FROM m2 JOIN sums sa ON m2.i = sa.i
      |           JOIN sums sb ON m2.j = sb.i
      |           CROSS JOIN nn),
      |cov AS MATERIALIZED (SELECT i, j, c FROM upper_c
      |  UNION ALL SELECT j AS i, i AS j, c FROM upper_c WHERE i <> j),
      |x0 AS (SELECT CAST(i AS INT) AS j,
      |    (CAST(i AS DOUBLE) + 65.0) / 1024.0 AS x
      |  FROM UNNEST(range(0, $Dim)) u(i)),
      |""" + (1 to Rounds).map(roundCte).mkString(",\n") + s""",
      |wf AS (SELECT cov.i,
      |    CAST(CAST(sum(CAST(CAST(c * x AS VARCHAR) AS DECIMAL(24,12))) AS VARCHAR) AS DOUBLE) AS w
      |  FROM cov JOIN x$Rounds ON cov.j = x$Rounds.j GROUP BY 1),
      |eig AS (SELECT CAST(CAST(sum(CAST(CAST(x.x * wf.w AS VARCHAR) AS DECIMAL(24,12)))
      |    AS VARCHAR) AS DOUBLE) AS eigval
      |  FROM x$Rounds x JOIN wf ON x.j = wf.i),
      |tr AS (SELECT CAST(CAST(sum(CAST(CAST(c AS VARCHAR) AS DECIMAL(24,12))) AS VARCHAR) AS DOUBLE) AS tr
      |  FROM cov WHERE i = j)
      |SELECT j AS dim, x AS loading, eigval,
      |  eigval / NULLIF(tr, 0) AS explained
      |FROM x$Rounds, eig, tr
      |ORDER BY dim""").stripMargin)
}
