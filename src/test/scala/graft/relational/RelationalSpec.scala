package graft.relational

import graft.SparkSpec

class RelationalSpec extends SparkSpec {

  test("q1_agg groups by (returnflag, linestatus) with positive sums") {
    val rows = Relational.q1Agg(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 6)
    rows.foreach { r =>
      assert(r.getAs[Double]("sum_qty") > 0)
      assert(r.getAs[Long]("count_order") > 0)
      assert(r.getAs[Double]("sum_disc_price") <= r.getAs[Double]("sum_base_price"))
    }
  }

  test("q3_join returns at most 10 rows sorted by revenue desc") {
    val rows = Relational.q3Join(spark, sf).collect()
    assert(rows.length <= 10)
    val revs = rows.map(_.getAs[Double]("revenue"))
    assert(revs.sameElements(revs.sortBy(-_)))
  }

  test("semi + anti join partition the customer table consistently") {
    val total = graft.sources.Tables.customer(spark, sf).count()
    val anti = Relational.qAntiJoin(spark, sf).count()
    val semiUrgent = Relational.qSemiJoin(spark, sf).count()
    assert(anti + semiUrgent == total)
  }

  test("q_window_rank yields at most 3 rows per priority, ranks 1..3") {
    val rows = Relational.qWindowRank(spark, sf).collect()
    val byPrio = rows.groupBy(_.getAs[String]("o_orderpriority"))
    byPrio.values.foreach { grp =>
      assert(grp.length <= 3)
      assert(grp.map(_.getAs[Int]("rnk")).sorted.sameElements(1 to grp.length))
    }
  }

  test("rollup_agg grand total equals lineitem row count") {
    val rows = Relational.rollupAgg(spark, sf).collect()
    val grand = rows.find(r => r.isNullAt(0) && r.isNullAt(1)).get
    assert(grand.getAs[Long]("n_rows") ==
      graft.sources.Tables.lineitem(spark, sf).count())
  }

  test("q_grouping_sets: three set levels reconcile with each other") {
    val rows = Relational.qGroupingSets(spark, sf).collect()
    val byGid = rows.groupBy(_.getAs[Int]("gid"))
    assert(byGid.keySet == Set(0, 1, 3))
    val total = graft.sources.Tables.lineitem(spark, sf).count()
    // grand total row
    val grand = byGid(3)
    assert(grand.length == 1 && grand.head.getAs[Long]("n_rows") == total)
    // per-flag rows: linestatus rolled up (null), counts sum to total
    assert(byGid(1).forall(_.isNullAt(1)))
    assert(byGid(1).map(_.getAs[Long]("n_rows")).sum == total)
    // finest level sums to the per-flag level within each flag
    byGid(1).foreach { f =>
      val flag = f.getAs[String]("l_returnflag")
      val fine = byGid(0).filter(_.getAs[String]("l_returnflag") == flag)
      assert(fine.map(_.getAs[Long]("n_rows")).sum == f.getAs[Long]("n_rows"))
    }
  }

  test("q_set_ops: tags partition the two distinct buyer-key sets") {
    import org.apache.spark.sql.functions._
    def buyers(y: Int) = graft.sources.Tables.orders(spark, sf)
      .filter(col("o_orderdate") >= lit(s"$y-01-01").cast("timestamp") &&
        col("o_orderdate") < lit(s"${y + 1}-01-01").cast("timestamp"))
      .select("o_custkey").collect().map(_.getLong(0)).toSet
    val (y95, y96) = (buyers(1995), buyers(1996))
    val rows = Relational.qSetOps(spark, sf).collect()
      .groupBy(_.getAs[String]("tag"))
      .view.mapValues(_.map(_.getAs[Long]("o_custkey")).toSet).toMap
    assert(rows("both") == (y95 intersect y96))
    assert(rows("only_1995") == (y95 diff y96))
    assert(rows("only_1996") == (y96 diff y95))
  }

  test("q_corr_subquery matches a brute-force per-customer baseline") {
    import org.apache.spark.sql.functions._
    val got = SqlApi.qCorrSubquery(spark, sf).collect()
      .map(_.getAs[Long]("o_orderkey")).toSet
    val o = graft.sources.Tables.orders(spark, sf)
    val avg = o.groupBy(col("o_custkey").as("ck"))
      .agg((sum(col("o_totalprice").cast("decimal(27,6)")).cast("double") /
        count(lit(1))).as("cavg"))
    val want = o.join(avg, col("o_custkey") === col("ck"))
      .filter(col("o_totalprice") > lit(1.8) * col("cavg"))
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    assert(got == want && got.nonEmpty)
  }

  test("q_approx distinct counts within 5% of exact") {
    import org.apache.spark.sql.functions._
    val approx = Relational.qApprox(spark, sf).collect()
      .map(r => r.getAs[String]("l_returnflag") -> r.getAs[Long]("approx_orders")).toMap
    val exact = graft.sources.Tables.lineitem(spark, sf)
      .groupBy("l_returnflag").agg(countDistinct("l_orderkey").as("d")).collect()
      .map(r => r.getAs[String]("l_returnflag") -> r.getAs[Long]("d")).toMap
    exact.foreach { case (k, ex) =>
      assert(math.abs(approx(k) - ex).toDouble / ex < 0.05)
    }
  }

  test("q_approx sketch error bounds hold at ×24 amplification") {
    import org.apache.spark.sql.functions._
    // the StressBench amplification shape: ×24 self-union with
    // distinct orderkeys per copy, so HLL sees 24× the cardinality
    // and KLL 24× the value stream — the sketches' CONSTANT memory
    // is the whole point; this pins their error at stress scale
    val base = graft.sources.Tables.lineitem(spark, sf)
      .select("l_returnflag", "l_orderkey", "l_extendedprice")
    val amp = graft.Amplify(base, 24, Seq("l_orderkey"))
    val approx = Relational.approxOf(amp).collect()
      .map(r => r.getAs[String]("l_returnflag") ->
        (r.getAs[Long]("approx_orders"), r.getAs[Double]("approx_median_price")))
      .toMap
    val exact = amp.groupBy("l_returnflag")
      .agg(countDistinct("l_orderkey").as("d"), count(lit(1)).as("n"))
      .collect()
      .map(r => r.getAs[String]("l_returnflag") ->
        (r.getAs[Long]("d"), r.getAs[Long]("n"))).toMap
    exact.foreach { case (flag, (d, n)) =>
      // HLL++ at rsd 0.01: 5σ bound
      val (ad, amed) = approx(flag)
      assert(math.abs(ad - d).toDouble / d < 0.05,
        s"$flag HLL err ${math.abs(ad - d).toDouble / d}")
      // KLL-style percentile_approx at accuracy 10000 guarantees
      // rank error ≤ n/10000; assert the approx median's true rank
      // is within 0.5 ± 0.005 (50× slack over the contract)
      val below = amp.filter(col("l_returnflag") === flag &&
        col("l_extendedprice") <= amed).count()
      val rank = below.toDouble / n
      assert(math.abs(rank - 0.5) < 0.005, s"$flag median rank $rank")
    }
  }

  test("q_set_ops_all preserves multiplicities (bag semantics)") {
    val rows = Relational.qSetOpsAll(spark, sf).collect()
    assert(rows.nonEmpty)
    // local bag replay per customer
    import org.apache.spark.sql.functions.{col, lit, year => yr}
    def counts(y: Int) = graft.sources.Tables.orders(spark, sf)
      .filter(yr(col("o_orderdate")) === lit(y))
      .groupBy("o_custkey").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (c95, c96) = (counts(1995), counts(1996))
    rows.foreach { r =>
      val k = r.getAs[Long]("o_custkey")
      val n = r.getAs[Long]("n")
      r.getAs[String]("tag") match {
        case "except_all_95_96" =>
          assert(n == c95(k) - c96.getOrElse(k, 0L), s"except $k")
        case "intersect_all" =>
          assert(n == math.min(c95(k), c96(k)), s"intersect $k")
      }
    }
  }

  test("q_promo_share is a valid percentage and sums parts correctly") {
    val rows = Relational.qPromoShare(spark, sf).collect()
    assert(rows.length == 12) // one per month of 1997
    rows.foreach { r =>
      val (p, t) = (r.getAs[Double]("promo_rev"), r.getAs[Double]("total_rev"))
      assert(p >= 0 && p <= t)
      assert(r.getAs[Double]("promo_share_pct") == 100.0 * p / t)
    }
  }

  test("q_top_suppliers ranks by revenue with resolved names") {
    val rows = Relational.qTopSuppliers(spark, sf).collect()
    assert(rows.length == 10)
    val revs = rows.map(_.getAs[Double]("total_rev"))
    assert(revs.sameElements(revs.sortBy(-_)))
    rows.foreach(r => assert(r.getAs[String]("s_name").nonEmpty))
  }

  test("q_recursive walks the halving chain to the root") {
    val rows = SqlApi.qRecursive(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val k = r.getAs[Long]("start_key")
      // local replay of the recursion
      var (cur, depth, sum) = (k, 0, k)
      while (cur > 1) { cur /= 2; depth += 1; sum += cur }
      assert(r.getAs[Int]("depth_to_root") == depth, s"key $k")
      assert(r.getAs[Long]("chain_sum") == sum)
      assert(r.getAs[Long]("chain_len") == depth + 1L)
    }
  }
}
