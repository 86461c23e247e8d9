package graft

/** Degree-skew probe for the two triangle-count shapes (g2 naive
  * id-ordered edge-iterator vs g2b degree-ordered orientation) on a
  * planted celebrity graph: one hub of degree `hub` with a MID-RANGE id
  * (the worst case for the id-ordered join — a hub at an extreme id never
  * centers wedges, so the naive shape looks artificially fine there),
  * over a sparse background graph of `n` vertices.
  *
  * sbt "Test/runMain graft.ProfileTriangles [hub] [n]"
  * Numbers feed the PLANS.md triangle-skew note.
  */
object ProfileTriangles {
  def main(args: Array[String]): Unit = {
    val hub = args.headOption.map(_.toLong).getOrElse(20000L)
    val n = args.lift(1).map(_.toLong).getOrElse(200000L)
    val spark = Sessions.local()

    // hub sits at id n/2: half its star edges arrive (a < hub), half leave
    // (hub < b), so the id-ordered wedge join centers (hub/2)^2 pairs on
    // one key. Background: a sparse pseudo-random chain among 1..n.
    val hubId = n / 2
    spark.sql(
      s"""SELECT DISTINCT least(s1, s2) AS s1, greatest(s1, s2) AS s2 FROM (
         |  SELECT ${hubId}L AS s1, CASE WHEN id >= $hubId THEN id + 1 ELSE id END AS s2
         |  FROM range(${hubId - hub / 2}, ${hubId + hub / 2})
         |  UNION ALL
         |  SELECT id AS s1, id + 1 + pmod(hash(id), 97) AS s2 FROM range(1, $n)
         |) WHERE s1 <> s2""".stripMargin).createOrReplaceTempView("e")
    spark.table("e").cache().count()

    def time(label: String)(sql: String): Unit = {
      val t0 = System.nanoTime()
      val row = spark.sql(sql).collect().head
      println(f"$label%-34s ${(System.nanoTime() - t0) / 1e9}%7.2f s  -> $row")
    }

    // wedge-work totals first (the cost model both shapes are graded on)
    time("wedge totals (naive vs oriented)")(
      """WITH d AS (SELECT v, count(*) AS deg FROM
        |  (SELECT s1 AS v FROM e UNION ALL SELECT s2 AS v FROM e) GROUP BY v),
        |ok AS (SELECT v, deg * 10000000000 + v AS okey FROM d),
        |de AS (SELECT CASE WHEN o1.okey < o2.okey THEN o1.okey ELSE o2.okey END AS uk
        |  FROM e JOIN ok o1 ON e.s1 = o1.v JOIN ok o2 ON e.s2 = o2.v),
        |wo AS (SELECT SUM((odeg * (odeg - 1)) div 2) AS oriented
        |  FROM (SELECT uk, count(*) AS odeg FROM de GROUP BY uk)),
        |wn AS (SELECT SUM((deg * (deg - 1)) div 2) AS naive,
        |  max(deg) AS max_deg FROM d),
        |wm AS (SELECT SUM((c * (c - 1)) div 2) AS id_ordered,
        |  max((c * (c - 1)) div 2) AS id_ordered_hot_key
        |  FROM (SELECT s1, count(*) AS c FROM e GROUP BY s1))
        |SELECT wn.naive, wm.id_ordered, wm.id_ordered_hot_key, wo.oriented, wn.max_deg
        |FROM wn, wm, wo""".stripMargin)

    // g2's shape: wedges centered by the id order (join key = middle id)
    time("naive id-ordered triangle join")(
      """SELECT count(*) AS n_tri FROM e e1
        |JOIN e e2 ON e2.s1 = e1.s2
        |JOIN e e3 ON e3.s1 = e1.s1 AND e3.s2 = e2.s2""".stripMargin)

    // g2b's shape: wedges only at the low-(deg, id) endpoint
    time("degree-oriented triangle join")(
      """WITH d AS (SELECT v, count(*) AS deg FROM
        |  (SELECT s1 AS v FROM e UNION ALL SELECT s2 AS v FROM e) GROUP BY v),
        |ok AS (SELECT v, deg * 10000000000 + v AS okey FROM d),
        |de AS (SELECT CASE WHEN o1.okey < o2.okey THEN o1.okey ELSE o2.okey END AS uk,
        |              CASE WHEN o1.okey < o2.okey THEN o2.okey ELSE o1.okey END AS wk
        |  FROM e JOIN ok o1 ON e.s1 = o1.v JOIN ok o2 ON e.s2 = o2.v)
        |SELECT count(*) AS n_tri FROM de a
        |JOIN de b ON b.uk = a.uk AND a.wk < b.wk
        |JOIN de c ON c.uk = a.wk AND c.wk = b.wk""".stripMargin)

    spark.stop()
  }
}
