package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.Relational
import graft.sources.Tables

/** SURVEY.md §2.3 joins + §2.7 set ops over the driver testdata. */
object JoinQueries {
  /** lineitem has no unique key ((l_orderkey, l_linenumber) repeats), so a
    * deterministic full-row output needs a total order over every column.
    */
  private[queries] val lineitemOrder = Seq(
    "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
    "l_shipdate")
  private[queries] val lineitemOrderSql = lineitemOrder.mkString(", ")

  val defs: Map[String, QueryDef] = Map(

    // J2 — disjunctive semi-join: keep rows where EITHER key hits the
    // watched set (store/transfer_processor.go:164-177: from OR to ∈ subs).
    // Planned as two hash-joinable LEFT SEMIs + union + dedup, never an
    // OR-condition join (which would force a nested-loop at scale).
    "j2_semi_join_disjunctive" -> QueryDef.sql(
      (s, d) => {
        val t       = Tables(s, d)
        val watched = t.supplier.filter(col("s_acctbal") > 5000.0)
        Relational.semiJoinAny(
          t.lineitem, watched,
          leftKeys = Seq("l_suppkey", "l_partkey"), rightKey = "s_suppkey"
        ).orderBy(lineitemOrder.map(col): _*)
      },
      s"""SELECT * FROM lineitem
        | WHERE l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_acctbal > 5000.0)
        |    OR l_partkey IN (SELECT s_suppkey FROM supplier WHERE s_acctbal > 5000.0)
        | ORDER BY $lineitemOrderSql""".stripMargin
    ),

    // J3 — broadcast semi-join against a small dimension
    // (store/event_erc20.go:37-62: logs ⋉ in-memory token list).
    "j3_broadcast_semi_join" -> QueryDef.sql(
      (s, d) => {
        val t = Tables(s, d)
        t.lineitem.join(
          broadcast(t.part.filter(col("p_type") === "PROMO").select("p_partkey")),
          col("l_partkey") === col("p_partkey"), "left_semi"
        ).orderBy(lineitemOrder.map(col): _*)
      },
      s"""SELECT * FROM lineitem
        | WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
        | ORDER BY $lineitemOrderSql""".stripMargin
    ),

    // J5 — as-of join (store/account/account.go:64,175-185): for each
    // signup, the latest click at-or-before it per user. Single-shuffle
    // union-window formulation (see Relational.asOfJoin).
    "j5_asof_join" -> QueryDef.sql(
      (s, d) => {
        val ev     = Tables(s, d).events
        val probe  = ev.filter(col("event_type") === "signup")
          .select("user_id", "ts", "event_id")
        val build  = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_id").as("click_event_id"))
        Relational.asOfJoin(probe, build, "user_id", Seq("ts", "event_id"), Seq("click_event_id"))
          .select("user_id", "event_id", "click_event_id")
          .orderBy("event_id")
      },
      """SELECT user_id, event_id, click_event_id FROM (
        |   SELECT s.user_id, s.event_id, c.event_id AS click_event_id,
        |     row_number() OVER (PARTITION BY s.event_id
        |       ORDER BY c.ts DESC, c.event_id DESC) AS rn
        |   FROM events s LEFT JOIN events c
        |     ON c.user_id = s.user_id AND c.event_type = 'click'
        |    AND (c.ts < s.ts OR (c.ts = s.ts AND c.event_id <= s.event_id))
        |   WHERE s.event_type = 'signup')
        | WHERE rn = 1 ORDER BY event_id""".stripMargin
    ),

    // J6 — lookup join with null handling: new-vs-old entity detection
    // (store/transfer_processor.go:259-313 — missing latest balance means
    // a new subscription).
    "j6_lookup_join_nulls" -> QueryDef.sql(
      (s, d) => {
        val t      = Tables(s, d)
        val latest = Relational.latestPerKey(
          t.events, Seq("user_id"), Seq(col("ts"), col("event_id")))
          .select(col("user_id"), col("value").as("last_value"))
        t.customer.join(latest, col("c_custkey") === col("user_id"), "left_outer")
          .select(
            col("c_custkey"), col("c_name"),
            coalesce(col("last_value"), lit(0.0)).as("last_value"),
            when(col("user_id").isNull, "new").otherwise("old").as("sub_state"))
          .orderBy("c_custkey")
      },
      """SELECT c_custkey, c_name, coalesce(last_value, 0.0) AS last_value,
        |   CASE WHEN user_id IS NULL THEN 'new' ELSE 'old' END AS sub_state
        | FROM customer LEFT JOIN (
        |   SELECT user_id, value AS last_value FROM (
        |     SELECT user_id, value,
        |            row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |     FROM events) WHERE rn = 1) ON c_custkey = user_id
        | ORDER BY c_custkey""".stripMargin
    ),

    // J7 — small cross join (store/new_erc20.go:63-143: token × subscriber)
    "j7_cross_join" -> QueryDef.sql(
      (s, d) => {
        val t = Tables(s, d)
        t.region.crossJoin(t.nation).select("r_name", "n_name").orderBy("r_name", "n_name")
      },
      "SELECT r_name, n_name FROM region CROSS JOIN nation ORDER BY r_name, n_name"
    ),

    // J8/U2 — union + dedup (store/transfer_processor.go:92-119 seenAddrs)
    "j8_union_dedup" -> QueryDef.sql(
      (s, d) => {
        val ev = Tables(s, d).events
        ev.filter(col("event_type") === "signup").select("user_id")
          .unionByName(ev.filter(col("event_type") === "purchase").select("user_id"))
          .dropDuplicates("user_id")
          .orderBy("user_id")
      },
      """SELECT DISTINCT user_id FROM (
        |   SELECT user_id FROM events WHERE event_type = 'signup'
        |   UNION ALL
        |   SELECT user_id FROM events WHERE event_type = 'purchase')
        | ORDER BY user_id""".stripMargin
    ),

    // U1/U3 — union of heterogeneous event streams unified by name
    // (store/store.go:240-299: eth ∪ erc20 ∪ synthetic reward rows)
    "u1_union_streams" -> QueryDef.sql(
      (s, d) => {
        val t         = Tables(s, d)
        val purchases = t.events.filter(col("event_type") === "purchase")
          .select(lit("purchase").as("kind"), col("event_id"), col("user_id"), col("value"))
        val bigViews  = t.events.filter(col("event_type") === "view" && col("value") > 150.0)
          .select(col("user_id"), col("event_id"), lit("big_view").as("kind"), col("value"))
        val synthetic = t.customer.filter(col("c_acctbal") > 9900.0)
          .select(lit("reward").as("kind"), (-col("c_custkey")).as("event_id"),
            col("c_custkey").as("user_id"), lit(5.0).as("value"))
        purchases.unionByName(bigViews).unionByName(synthetic)
          .orderBy("kind", "event_id")
      },
      """SELECT * FROM (
        |   SELECT 'purchase' AS kind, event_id, user_id, value FROM events WHERE event_type = 'purchase'
        |   UNION ALL
        |   SELECT 'big_view' AS kind, event_id, user_id, value FROM events WHERE event_type = 'view' AND value > 150.0
        |   UNION ALL
        |   SELECT 'reward' AS kind, -c_custkey AS event_id, c_custkey AS user_id, 5.0 AS value
        |   FROM customer WHERE c_acctbal > 9900.0)
        | ORDER BY kind, event_id""".stripMargin
    ),

    // U2 — address-set union + dedup (tx senders ∪ event parties ∪ new subs)
    "u2_addr_union_dedup" -> QueryDef.sql(
      (s, d) => {
        val t = Tables(s, d)
        t.events.select(col("user_id").as("addr"))
          .unionByName(t.customer.filter(col("c_custkey") < 20L).select(col("c_custkey").as("addr")))
          .dropDuplicates("addr")
          .orderBy("addr")
      },
      """SELECT DISTINCT addr FROM (
        |   SELECT user_id AS addr FROM events
        |   UNION ALL
        |   SELECT c_custkey AS addr FROM customer WHERE c_custkey < 20)
        | ORDER BY addr""".stripMargin
    ),

    // J9 — interval self-join: event pairs of the same type whose
    // [ts, ts + 1–11 min] windows overlap (duration derived from
    // event_id, integer-exact). The range join Spark lacks natively:
    // intervals explode into 15-min buckets, candidates meet in an
    // EQUI-join on (type, bucket), the exact predicate filters after the
    // hash join, and each pair reports exactly once at the bucket of the
    // later start — no cartesian, no theta-join, no distinct (contract-
    // checked). The oracle states the SEMANTICS directly (DuckDB's
    // inequality join); cost there is the oracle's problem.
    "j9_interval_join" -> QueryDef.sql(
      (s, d) => {
        val iv = Tables(s, d).events.select(
          col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("__s"),
          (unix_micros(col("ts"))
            + (pmod(col("event_id"), lit(600L)) + 60L) * 1000000L).as("__e"))
        Relational.intervalJoin(iv, Seq("event_type"), "event_id",
            col("__s"), col("__e"), bucketMicros = 900000000L)
          .orderBy("event_type", "id_a", "id_b")
      },
      """WITH iv AS (SELECT event_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS s,
        |    epoch_us(CAST(ts AS TIMESTAMP)) + (event_id % 600 + 60) * 1000000 AS e
        |  FROM events)
        | SELECT a.event_type, a.event_id AS id_a, b.event_id AS id_b,
        |   CAST(least(a.e, b.e) - greatest(a.s, b.s) AS BIGINT) AS overlap_us
        | FROM iv a JOIN iv b
        |   ON a.event_type = b.event_type AND a.event_id < b.event_id
        |   AND a.s <= b.e AND b.s <= a.e
        | ORDER BY 1, 2, 3""".stripMargin
    )
  )
}
