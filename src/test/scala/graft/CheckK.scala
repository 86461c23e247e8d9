package graft

/** Scale probe for the sketch verdict-flag queries: runs every k-family
 *  catalog query at sf0.1 and the synthesized sf1 (if present) and
 *  requires every `within` / `merged_equals_whole` flag to be 1 — the
 *  documented error bounds must hold at BENCH scale and 10x it, not
 *  just at the sf0.01 oracle gate.
 *  `sbt "Test/runMain graft.CheckK [query,names]"` */
object CheckK {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local()
    val names = args.headOption.map(_.split(",").toSeq).getOrElse(
      Queries.all.map(_.name).sorted.filter(n =>
        n.startsWith("k") || n.startsWith("b") ||
          n == "q85_stream_hll_window" || n == "q86_stream_cms_heavy_users" ||
          n == "q89_stream_kll_window" || n == "q92_native_hll_sketch"))
    // boolean verdicts must be 1; counted-violation columns must be 0
    val flagCols = Set("within", "merged_equals_whole", "merged_within",
      "no_false_neg", "fp_within", "never_under", "within_eps")
    val zeroCols = Set("n_false_neg")
    val dirs = Seq("/root/testdata/sf0.1", "/tmp/graft_scale/sf1")
      .filter(d => new java.io.File(d).isDirectory)
    var failed = false
    for (dir <- dirs; name <- names) {
      val rows = Queries.all.find(_.name == name)
        .getOrElse(sys.error(s"unknown query $name")).run(spark, dir).collect()
      val flags = rows.headOption.map(_.schema.fieldNames.filter(flagCols)).getOrElse(Array.empty)
      val zeros = rows.headOption.map(_.schema.fieldNames.filter(zeroCols)).getOrElse(Array.empty)
      val bad = rows.filter(r => flags.exists(f => r.getAs[Int](f) != 1) ||
        zeros.exists(f => r.getAs[Long](f) != 0L))
      println(s"[checkk] $dir $name rows=${rows.length} flags=${(flags ++ zeros).mkString(",")} " +
        s"bad=${bad.length} " + (if (bad.nonEmpty) bad.mkString("; ") else "all-within"))
      if (bad.nonEmpty || rows.isEmpty) failed = true
    }
    spark.stop()
    if (failed) sys.exit(1)
  }
}
