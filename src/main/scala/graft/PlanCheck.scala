package graft

/** Plan auditor: prints the physical plan of selected driver queries and
  * flags scale red-flags (missing filter pushdown, unpruned scans, extra
  * shuffles, nested-loop joins). `runMain graft.PlanCheck [names...]`. */
object PlanCheck {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("graft-plancheck", 8).master("local[8]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.01"
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q01_agg", "q02_project_arith", "q04_sort_topk", "q06_join_star",
        "q07_join_left_agg", "q26_asof_join", "q31_ewm", "q39_head_grouped",
        "d05_minhash_pairs")
    names.foreach { n =>
      val plan = SparkEntry.queries(n)(spark, dir)
        .queryExecution.executedPlan.toString
    // compact: keep operator lines, drop attribute noise
      val ops = plan.linesIterator.map(_.takeWhile(_ != '[').trim)
        .filter(_.nonEmpty).mkString("\n")
      val exchanges = plan.linesIterator.count(_.contains("Exchange"))
      val nlj = plan.linesIterator.count(_.contains("NestedLoop"))
      val pushed = plan.linesIterator
        .filter(_.contains("PushedFilters: ["))
        .map(_.replaceAll(".*PushedFilters: (\\[[^\\]]*\\]).*", "$1"))
        .mkString(" ")
      val schemas = plan.linesIterator
        .filter(_.contains("ReadSchema"))
        .map(_.replaceAll(".*ReadSchema: ", "").take(120)).mkString("\n  ")
      println(s"===== $n  (exchanges=$exchanges nestedLoop=$nlj)")
      println(ops)
      println(s"  PushedFilters: $pushed")
      println(s"  ReadSchema: $schemas")
      println()
    }
    spark.stop()
  }
}
