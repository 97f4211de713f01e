package graft.tools

/** Dev tool: sweep every SparkEntry query's physical plan for scale
  * red flags. Usage: runMain graft.tools.PlanAudit [sfDir] [queryName]
  *
  * Flags per query:
  *  - CARTESIAN: CartesianProduct operator anywhere
  *  - BNLJ:      BroadcastNestedLoopJoin (fine only for tiny
  *               broadcast sides — listed for eyeball review)
  *  - WIDE-SCAN: a parquet scan reading >8 columns (pruning check)
  *  - EXCH(n):   number of shuffle exchanges
  *  - NOPUSH:    filter directly above a scan with no PushedFilters
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val only = if (args.length > 1) Some(args(1)) else None
    val spark = graft.Engine.session("graft-plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    val names = only.map(Seq(_)).getOrElse(graft.SparkEntry.queries.keys.toSeq.sorted)
    names.foreach { name =>
      try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.executedPlan.toString
        val flags = Seq.newBuilder[String]
        if (plan.contains("CartesianProduct")) flags += "CARTESIAN"
        if (plan.contains("BroadcastNestedLoopJoin")) flags += "BNLJ"
        val exch = "Exchange".r.findAllIn(plan).length
        flags += s"EXCH($exch)"
        // scan width: ReadSchema: struct<...>
        val scans = "ReadSchema: struct<([^>]*)>".r
          .findAllMatchIn(plan).map(_.group(1).count(_ == ',') + 1).toSeq
        if (scans.exists(_ > 8)) flags += s"WIDE-SCAN(${scans.max})"
        println(s"PLANAUDIT $name: ${flags.result().mkString(" ")}")
        if (only.isDefined) df.explain("formatted")
      } catch {
        case e: Throwable => println(s"PLANAUDIT $name: ERROR ${e.getMessage}")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
