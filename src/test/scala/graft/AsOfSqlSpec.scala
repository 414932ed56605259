package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.plans.GraftSqlParser

/** The ASOF JOIN SQL dialect (graft.plans.AsOfSql): keyword rewrite,
  * marker conversion, and equality with the DataFrame API on the same
  * data — q41's semantics as pure SQL.
  */
class AsOfSqlSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"

  private lazy val spark = TestSession.spark

  test("keyword rewrite: quote-aware, case-insensitive, word-boundary-safe") {
    assert(GraftSqlParser.rewriteAsOf("a ASOF JOIN b") == "a LEFT JOIN b")
    assert(GraftSqlParser.rewriteAsOf("a asof\n  join b") == "a LEFT JOIN b")
    // string literals are never rewritten
    assert(GraftSqlParser.rewriteAsOf("SELECT 'ASOF JOIN' FROM t") ==
      "SELECT 'ASOF JOIN' FROM t")
    // identifiers containing the letters are untouched
    assert(GraftSqlParser.rewriteAsOf("SELECT asof_join, masof JOIN x") ==
      "SELECT asof_join, masof JOIN x")
    assert(GraftSqlParser.rewriteAsOf("SELECT 1") == "SELECT 1")
  }

  test("parameterized SQL still binds through the injected parser") {
    // ParserInterface.parsePlanWithParameters is a DEFAULT method; a
    // delegating wrapper that forgets to forward it silently breaks
    // spark.sql(text, args) for every extensions user (regression:
    // UNBOUND_SQL_PARAMETER out of Engine.query under GraftExtensions)
    Tables.registerAll(spark, sf)
    val n = spark.sql(
      "SELECT count(*) AS n FROM orders WHERE o_totalprice < :p",
      Map("p" -> 50000)).head().getLong(0)
    assert(n > 0)
    val eng = new graft.query.Engine(spark, sf)
    assert(eng.query(
      "SELECT count(*) AS n FROM orders WHERE o_totalprice < :p",
      Map("p" -> 50000)).head().getLong(0) == n)
  }

  test("q41 as pure SQL: ASOF JOIN matches the DataFrame API row for row") {
    import spark.implicits._
    Tables.registerAll(spark, sf)
    val sql = spark.sql(
      """WITH p AS (SELECT event_id AS p_event, user_id, ts AS p_ts
        |           FROM events WHERE event_type = 'purchase'),
        |     c AS (SELECT event_id AS c_event, user_id AS c_user, ts AS c_ts
        |           FROM events WHERE event_type = 'click')
        |SELECT p_event, user_id, c_event
        |FROM p ASOF JOIN c
        |  ON user_id = c_user AND asof_backward(p_ts, c_ts)
        |ORDER BY p_event""".stripMargin)
    // the custom operator actually planned (not a disguised left join)
    assert(sql.queryExecution.executedPlan.toString.contains("AsOfJoin"),
      s"ASOF JOIN did not reach AsOfJoinExec:\n${sql.queryExecution.executedPlan}")
    val viaSql = sql.collect().map(_.toSeq).toSeq
    val viaDf = SparkEntry.queries("q41_asof_join")(spark, sf).collect().map(_.toSeq).toSeq
    assert(viaSql.nonEmpty && viaSql == viaDf)
  }

  test("forward / nearest / tolerance markers drive the same engine paths") {
    import spark.implicits._
    Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 99L, "c")).toDF("k", "t", "lv")
      .createOrReplaceTempView("l")
    Seq((1L, 12L, "r12"), (1L, 25L, "r25"), (2L, 5L, "r5")).toDF("rk", "rt", "rv")
      .createOrReplaceTempView("r")
    def m(marker: String): Map[Long, String] =
      spark.sql(s"""SELECT t, rv FROM l ASOF JOIN r ON k = rk AND $marker
                   |ORDER BY k, t""".stripMargin)
        .collect().map(x => x.getLong(0) ->
          (if (x.isNullAt(1)) null else x.getString(1))).toMap
    // backward: latest rt <= t
    assert(m("asof_backward(t, rt)") == Map(10L -> null, 20L -> "r12", 99L -> "r5"))
    // forward: earliest rt >= t
    assert(m("asof_forward(t, rt)") == Map(10L -> "r12", 20L -> "r25", 99L -> null))
    // nearest: closer side wins (t=20: back gap 8, fwd gap 5 -> r25)
    assert(m("asof_nearest(t, rt)") == Map(10L -> "r12", 20L -> "r25", 99L -> "r5"))
    // tolerance literal: t=99's backward match r5 is 94 old -> rejected
    assert(m("asof_backward(t, rt, 10)") == Map(10L -> null, 20L -> "r12", 99L -> null))
    // argument order is orientation-free (one side each, any order)
    assert(m("asof_backward(rt, t)") == m("asof_backward(t, rt)"))
  }

  test("filters above an ASOF JOIN push into both sides' scans") {
    import spark.implicits._
    Tables.registerAll(spark, sf)
    val sql = spark.sql(
      """WITH p AS (SELECT event_id AS p_event, user_id, ts AS p_ts
        |           FROM events WHERE event_type = 'purchase'),
        |     c AS (SELECT event_id AS c_event, user_id AS c_user, ts AS c_ts
        |           FROM events WHERE event_type = 'click')
        |SELECT p_event, user_id, c_event
        |FROM p ASOF JOIN c
        |  ON user_id = c_user AND asof_backward(p_ts, c_ts)
        |WHERE user_id < 40
        |ORDER BY p_event""".stripMargin)
    // the key predicate lands UNDER the as-of node on BOTH sides —
    // visible as pushed scan filters (user_id on the left, the
    // mirrored c_user on the right)
    val physical = sql.queryExecution.executedPlan.toString
    assert(physical.contains("AsOfJoin"), s"custom exec missing:\n$physical")
    val pushed = "PushedFilters: \\[[^\\]]*LessThan\\(user_id,40\\)[^\\]]*\\]".r
      .findAllIn(physical).size
    assert(pushed == 2,
      s"expected the key filter pushed to both scans, found $pushed:\n$physical")
    // and the answer equals filter-after-join on the DataFrame API
    val expected = SparkEntry.queries("q41_asof_join")(spark, sf)
      .where($"user_id" < 40).collect().map(_.toSeq).toSeq
    assert(expected.nonEmpty && sql.collect().map(_.toSeq).toSeq == expected)
  }

  test("projection above an ASOF JOIN prunes the unprojected wide columns at the scan") {
    Tables.registerAll(spark, sf)
    // left side is the RAW six-column events table; only event_id is
    // selected, so the scan must read (event_id, ts, user_id) — the
    // join key/time — and drop event_type/value/props
    val sql = spark.sql(
      """SELECT a.event_id AS p_event
        |FROM events a ASOF JOIN
        |  (SELECT user_id AS c_user, ts AS c_ts FROM events) c
        |  ON a.user_id = c.c_user AND asof_backward(a.ts, c.c_ts)
        |ORDER BY p_event""".stripMargin)
    val physical = sql.queryExecution.executedPlan.toString
    assert(physical.contains("AsOfJoin"), s"custom exec missing:\n$physical")
    // ts's physical type varies by driver dataset vintage (bigint
    // nanos vs timestamp_ntz micros) — pin the pruning, not the type
    assert("ReadSchema: struct<event_id:bigint,ts:[a-z_0-9]+,user_id:bigint>".r
      .findFirstIn(physical).isDefined,
      s"left scan not pruned to key/time/projected columns:\n$physical")
    assert(!physical.contains("props"), s"wide column survived pruning:\n$physical")
    // one output row per left row (left-outer as-of)
    assert(sql.count() == Tables.load(spark, sf, "events").count())
  }

  test("misuse fails loudly: non-left join, missing equi keys, bad tolerance") {
    import spark.implicits._
    Seq((1L, 10L)).toDF("k", "t").createOrReplaceTempView("l2")
    Seq((1L, 5L)).toDF("rk", "rt").createOrReplaceTempView("r2")
    def fails(sql: String, needle: String): Unit = {
      val e = intercept[Exception](spark.sql(sql).collect())
      def all(t: Throwable): Seq[String] =
        if (t == null) Nil else t.getMessage +: all(t.getCause)
      assert(all(e).exists(m => m != null && m.contains(needle)),
        s"expected '$needle' in: ${all(e).mkString(" | ")}")
    }
    fails("SELECT * FROM l2 JOIN r2 ON k = rk AND asof_backward(t, rt)",
      "require ASOF JOIN")
    fails("SELECT * FROM l2 ASOF JOIN r2 ON asof_backward(t, rt)",
      "at least one equi-key")
    fails("SELECT * FROM l2 ASOF JOIN r2 ON k = rk AND asof_backward(t, rt, rt)",
      "integer literal")
    fails("SELECT * FROM l2 ASOF JOIN r2 ON k = rk AND asof_backward(t, t)",
      "one time expression must come from each join side")
  }
}
