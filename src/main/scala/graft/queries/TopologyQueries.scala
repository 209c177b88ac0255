package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dsl._
import graft.batch.BatchCompiler
import graft.ops.Keyed
import graft.SparkEntry.eventsDf
import Tables.{dsum, dsumSql, evRecords, run1, table}
import Query.{Heavy, Light}

/** Core operators expressed as [[graft.dsl.Topology]] values and compiled
  * by [[graft.batch.BatchCompiler]] (q01–q20, q33, q35, q36): the
  * correctness gate executes the graft engine, not raw Spark. */
object TopologyQueries {

  import Records.{KeyCol, ValueCol, TsCol}

  /** #18 aggregate + #8 filter xform + #15 group key: TPC-H Q1 pricing
    * summary as topic → kstream(filter) → ktable(agg) → topic. */
  private[graft] def q01(s: SparkSession, dir: String): DataFrame = {
    val li = Records.fromTable(table(s, dir, "lineitem"),
      struct(col("l_returnflag"), col("l_linestatus")),
      struct(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
      col("l_shipdate"))
    val topo = Topology(
      workflow = Seq("lineitem" -> "recent", "recent" -> "pricing", "pricing" -> "out"),
      entities = Map(
        "lineitem" -> Entity.Topic("lineitem"),
        "recent" -> Entity.KStream(Some(Xform.Filter(
          col(TsCol) <= lit("1998-09-02").cast("timestamp")))),
        "pricing" -> Entity.KTable(aggregate = Some(AggSpec.ExprAgg(struct(
          dsum(col(s"$ValueCol.l_quantity")).as("sum_qty"),
          dsum(col(s"$ValueCol.l_extendedprice")).as("sum_base_price"),
          sum(col(s"$ValueCol.l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col(s"$ValueCol.l_discount").cast("decimal(18,2)")))
            .cast("double").as("sum_disc_price"),
          (dsum(col(s"$ValueCol.l_quantity")) / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))))),
        "out" -> Entity.Topic("out")))
    run1(topo, Map("lineitem" -> li), "out").select(
      col(s"$KeyCol.l_returnflag").as("l_returnflag"),
      col(s"$KeyCol.l_linestatus").as("l_linestatus"),
      col(s"$ValueCol.sum_qty").as("sum_qty"),
      col(s"$ValueCol.sum_base_price").as("sum_base_price"),
      col(s"$ValueCol.sum_disc_price").as("sum_disc_price"),
      col(s"$ValueCol.avg_qty").as("avg_qty"),
      col(s"$ValueCol.count_order").as("count_order"))
  }

  /** #30/#31 stream–global-table join with kv-mapper. `partPred` filters
    * the dimension feed (left-join nulls); Inner uses the full dim. */
  private def qGlobal(s: SparkSession, dir: String, jt: JoinType,
      partFiltered: Boolean): DataFrame = {
    val li = Records.fromTable(table(s, dir, "lineitem"),
      col("l_orderkey"), struct(col("l_partkey"), col("l_quantity")), col("l_shipdate"))
    val part0 = table(s, dir, "part")
    val part1 = if (partFiltered) part0.filter(col("p_size") > 25) else part0
    val pt = Records.fromTable(part1,
      col("p_partkey"), struct(col("p_brand"), col("p_retailprice")),
      lit("2000-01-01").cast("timestamp"))
    val topo = Topology(
      workflow = Seq("lineitem" -> "enriched", "part" -> "partg", "partg" -> "enriched",
        "enriched" -> "out"),
      entities = Map(
        "lineitem" -> Entity.Topic("lineitem"),
        "part" -> Entity.Topic("part"),
        "partg" -> Entity.GlobalKTable(),
        "enriched" -> Entity.KStream(),
        "out" -> Entity.Topic("out")),
      joins = Map(Seq("lineitem", "partg") -> JoinConfig(jt,
        kvMapper = Some((_, v) => v.getField("l_partkey")))))
    run1(topo, Map("lineitem" -> li, "part" -> pt), "out").select(
      col(KeyCol).as("l_orderkey"),
      col(s"$ValueCol.v1.l_quantity").as("l_quantity"),
      col(s"$ValueCol.v2.p_brand").as("p_brand"),
      col(s"$ValueCol.v2.p_retailprice").as("p_retailprice"))
  }

  /** #22-24 windowed stream–stream joins: clicks ⋈ views per user within
    * ±30 min (events self-join split by event_type through Filter xforms). */
  private def qSS(s: SparkSession, dir: String, jt: JoinType): DataFrame = {
    val topo = Topology(
      workflow = Seq("events" -> "clicks", "events" -> "views",
        "clicks" -> "j", "views" -> "j", "j" -> "out"),
      entities = Map(
        "events" -> Entity.Topic("events"),
        "clicks" -> Entity.KStream(Some(Xform.Filter(col(s"$ValueCol.event_type") === "click"))),
        "views" -> Entity.KStream(Some(Xform.Filter(col(s"$ValueCol.event_type") === "view"))),
        "j" -> Entity.KStream(),
        "out" -> Entity.Topic("out")),
      joins = Map(Seq("clicks", "views") ->
        JoinConfig(jt, window = Some(JoinWindow.of(30 * 60 * 1000L)))))
    run1(topo, Map("events" -> evRecords(s, dir)), "out").select(
      col(KeyCol).as("user_id"),
      col(s"$ValueCol.v1.value").as("click_val"),
      col(s"$ValueCol.v2.value").as("view_val"),
      unix_micros(col(TsCol)).as("ts_us"))
  }

  /** #26-28 table–table joins: per-customer order aggregate ⋈ customer
    * snapshot. Input feeds optionally restricted so left/outer emit nulls. */
  private def qTT(s: SparkSession, dir: String, jt: JoinType,
      filterOrders: Boolean, filterCust: Boolean): DataFrame = {
    val ord0 = table(s, dir, "orders")
    val ord1 = if (filterOrders) ord0.filter(col("o_custkey") % 2 === 0) else ord0
    val cust0 = table(s, dir, "customer")
    val cust1 = if (filterCust) cust0.filter(col("c_custkey") % 3 === 0) else cust0
    val ord = Records.fromTable(ord1,
      col("o_custkey"), struct(col("o_totalprice")), col("o_orderdate"))
    val cust = Records.fromTable(cust1,
      col("c_custkey"), struct(col("c_name"), col("c_acctbal")),
      lit("1990-01-01").cast("timestamp"))
    val topo = Topology(
      workflow = Seq("orders" -> "otab", "customer" -> "ctab",
        "otab" -> "j", "ctab" -> "j", "j" -> "out"),
      entities = Map(
        "orders" -> Entity.Topic("orders"),
        "customer" -> Entity.Topic("customer"),
        "otab" -> Entity.KTable(aggregate = Some(AggSpec.ExprAgg(struct(
          count(lit(1)).as("order_cnt"),
          dsum(col(s"$ValueCol.o_totalprice")).as("total_spent"))))),
        "ctab" -> Entity.KTable(),
        "j" -> Entity.KStream(),
        "out" -> Entity.Topic("out")),
      joins = Map(Seq("otab", "ctab") -> JoinConfig(jt)))
    run1(topo, Map("orders" -> ord, "customer" -> cust), "out").select(
      col(KeyCol).as("custkey"),
      col(s"$ValueCol.v1.order_cnt").as("order_cnt"),
      col(s"$ValueCol.v1.total_spent").as("total_spent"),
      col(s"$ValueCol.v2.c_acctbal").as("c_acctbal"))
  }

  /** #29 stream–table as-of join: each purchase looks up the user's
    * latest signup value with signup.ts <= purchase.ts. */
  private def qAsOf(s: SparkSession, dir: String, jt: JoinType): DataFrame = {
    val topo = Topology(
      workflow = Seq("events" -> "purchases", "events" -> "signups",
        "signups" -> "profile", "purchases" -> "j", "profile" -> "j", "j" -> "out"),
      entities = Map(
        "events" -> Entity.Topic("events"),
        "purchases" -> Entity.KStream(Some(Xform.Filter(col(s"$ValueCol.event_type") === "purchase"))),
        "signups" -> Entity.KStream(Some(Xform.Filter(col(s"$ValueCol.event_type") === "signup"))),
        "profile" -> Entity.KTable(),
        "j" -> Entity.KStream(),
        "out" -> Entity.Topic("out")),
      joins = Map(Seq("purchases", "profile") -> JoinConfig(jt)))
    run1(topo, Map("events" -> evRecords(s, dir)), "out").select(
      col(KeyCol).as("user_id"),
      col(s"$ValueCol.v1.value").as("purchase_val"),
      col(s"$ValueCol.v2.value").as("signup_val"),
      unix_micros(col(TsCol)).as("ts_us"))
  }

  /** #16 tumbling / hopping windows (sizeMs, advanceMs). */
  private def qTimeWindow(s: SparkSession, dir: String, sizeMs: Long, advMs: Long): DataFrame = {
    val ev = Records.fromTable(eventsDf(s, dir),
      col("user_id"), col("value"), col("ts"))
    val topo = Topology(
      workflow = Seq("events" -> "wk", "wk" -> "out"),
      entities = Map(
        "events" -> Entity.Topic("events"),
        "wk" -> Entity.KTable(
          window = Some(WindowSpec.TimeWindows(sizeMs, advMs)),
          aggregate = Some(AggSpec.ExprAgg(struct(
            count(lit(1)).as("cnt"), dsum(col(ValueCol)).as("sum_val"))))),
        "out" -> Entity.Topic("out")))
    // sink keeps window_start/window_end? the sink unwraps windowed keys
    // (#12) — read the ktable node directly for the windowed view
    BatchCompiler.run(topo, Map("events" -> ev))("wk").select(
      col(KeyCol).as("user_id"),
      unix_millis(col("window_start")).as("ws"),
      col(s"$ValueCol.cnt").as("cnt"),
      col(s"$ValueCol.sum_val").as("sum_val"))
  }

  /** #17 session windows: 30-min inactivity gap per user. */
  private def qSession(s: SparkSession, dir: String): DataFrame = {
    val ev = Records.fromTable(eventsDf(s, dir),
      col("user_id"), col("value"), col("ts"))
    val topo = Topology(
      workflow = Seq("events" -> "sess", "sess" -> "out"),
      entities = Map(
        "events" -> Entity.Topic("events"),
        "sess" -> Entity.KTable(
          window = Some(WindowSpec.SessionWindows(30 * 60 * 1000L)),
          aggregate = Some(AggSpec.ExprAgg(struct(
            count(lit(1)).as("cnt"), dsum(col(ValueCol)).as("sum_val"))))),
        "out" -> Entity.Topic("out")))
    BatchCompiler.run(topo, Map("events" -> ev))("sess").select(
      col(KeyCol).as("user_id"),
      unix_micros(col("window_start")).as("ss_us"),
      col(s"$ValueCol.cnt").as("cnt"),
      col(s"$ValueCol.sum_val").as("sum_val"))
  }

  /** #2/#13 stream → table latest-per-key. */
  private def qLatest(s: SparkSession, dir: String): DataFrame = {
    val topo = Topology(
      workflow = Seq("events" -> "tbl", "tbl" -> "out"),
      entities = Map(
        "events" -> Entity.Topic("events"),
        "tbl" -> Entity.KTable(),
        "out" -> Entity.Topic("out")))
    run1(topo, Map("events" -> evRecords(s, dir)), "out").select(
      col(KeyCol).as("user_id"),
      col(s"$ValueCol.event_type").as("last_type"),
      col(s"$ValueCol.value").as("last_val"),
      unix_micros(col(TsCol)).as("ts_us"))
  }

  /** #25 stream merge (+ #10 MapValue): two branches mapped differently,
    * fanned back in by the default merge. */
  private def qMerge(s: SparkSession, dir: String): DataFrame = {
    val topo = Topology(
      workflow = Seq("events" -> "clicks", "events" -> "errors",
        "clicks" -> "merged", "errors" -> "merged", "merged" -> "out"),
      entities = Map(
        "events" -> Entity.Topic("events"),
        "clicks" -> Entity.KStream(Some(
          Xform.Filter(col(s"$ValueCol.event_type") === "click")
            .andThen(Xform.MapValue(struct(
              lit("click").as("tag"), (col(s"$ValueCol.value") * 2).as("amount")))))),
        "errors" -> Entity.KStream(Some(
          Xform.Filter(col(s"$ValueCol.event_type") === "error")
            .andThen(Xform.MapValue(struct(
              lit("error").as("tag"), (col(s"$ValueCol.value") + 100.0).as("amount")))))),
        "merged" -> Entity.KStream(),
        "out" -> Entity.Topic("out")))
    run1(topo, Map("events" -> evRecords(s, dir)), "out").select(
      col(KeyCol).as("user_id"),
      col(s"$ValueCol.tag").as("tag"),
      col(s"$ValueCol.amount").as("amount"),
      unix_micros(col(TsCol)).as("ts_us"))
  }

  /** #32 n-ary join fold via chained global joins: the second join's left
    * side carries a v1/v2 struct which must flatten to v1,v2,v3. */
  private def qNary(s: SparkSession, dir: String): DataFrame = {
    val li = Records.fromTable(table(s, dir, "lineitem"),
      col("l_orderkey"),
      struct(col("l_partkey"), col("l_suppkey"), col("l_quantity")),
      col("l_shipdate"))
    val pt = Records.fromTable(table(s, dir, "part"),
      col("p_partkey"), struct(col("p_brand")), lit("2000-01-01").cast("timestamp"))
    val sp = Records.fromTable(table(s, dir, "supplier"),
      col("s_suppkey"), struct(col("s_name")), lit("2000-01-01").cast("timestamp"))
    val topo = Topology(
      workflow = Seq("lineitem" -> "j1", "part" -> "partg", "partg" -> "j1",
        "j1" -> "j2", "supplier" -> "suppg", "suppg" -> "j2", "j2" -> "out"),
      entities = Map(
        "lineitem" -> Entity.Topic("lineitem"),
        "part" -> Entity.Topic("part"),
        "supplier" -> Entity.Topic("supplier"),
        "partg" -> Entity.GlobalKTable(),
        "suppg" -> Entity.GlobalKTable(),
        "j1" -> Entity.KStream(),
        "j2" -> Entity.KStream(),
        "out" -> Entity.Topic("out")),
      joins = Map(
        Seq("lineitem", "partg") -> JoinConfig(JoinType.Inner,
          kvMapper = Some((_, v) => v.getField("l_partkey"))),
        Seq("j1", "suppg") -> JoinConfig(JoinType.Inner,
          kvMapper = Some((_, v) => v.getField("v1").getField("l_suppkey")))))
    run1(topo, Map("lineitem" -> li, "part" -> pt, "supplier" -> sp), "out").select(
      col(KeyCol).as("l_orderkey"),
      col(s"$ValueCol.v1.l_quantity").as("qty"),
      col(s"$ValueCol.v2.p_brand").as("p_brand"),
      col(s"$ValueCol.v3.s_name").as("s_name"))
  }

  /** #8 flat-map xform: each record fans out to (value, -value). */
  private def qFlatMap(s: SparkSession, dir: String): DataFrame = {
    val ev = Records.fromTable(eventsDf(s, dir),
      col("user_id"), col("value"), col("ts"))
    val topo = Topology(
      workflow = Seq("events" -> "fm", "fm" -> "out"),
      entities = Map(
        "events" -> Entity.Topic("events"),
        "fm" -> Entity.KStream(Some(Xform.FlatMapValue(
          array(col(ValueCol), -col(ValueCol))))),
        "out" -> Entity.Topic("out")))
    run1(topo, Map("events" -> ev), "out").select(
      col(KeyCol).as("user_id"), col(ValueCol).as("value"),
      unix_micros(col(TsCol)).as("ts_us"))
  }

  /** #15 group-by re-key + #18 aggregate: orders re-keyed by priority. */
  private def qRekey(s: SparkSession, dir: String): DataFrame = {
    val ord = Records.fromTable(table(s, dir, "orders"),
      col("o_orderkey"), struct(col("o_orderpriority"), col("o_totalprice")),
      col("o_orderdate"))
    val topo = Topology(
      workflow = Seq("orders" -> "byprio", "byprio" -> "out"),
      entities = Map(
        "orders" -> Entity.Topic("orders"),
        "byprio" -> Entity.KTable(
          groupBy = Some(col(s"$ValueCol.o_orderpriority")),
          aggregate = Some(AggSpec.ExprAgg(struct(
            count(lit(1)).as("cnt"),
            dsum(col(s"$ValueCol.o_totalprice")).as("total"))))),
        "out" -> Entity.Topic("out")))
    run1(topo, Map("orders" -> ord), "out").select(
      col(KeyCol).as("o_orderpriority"),
      col(s"$ValueCol.cnt").as("cnt"),
      col(s"$ValueCol.total").as("total"))
  }

  /** #18 changelog emission parity: running aggregate per key ordered by
    * ts (the reference's eager one-output-per-input semantics). */
  private def qRunning(s: SparkSession, dir: String): DataFrame = {
    val ev = Records.fromTable(eventsDf(s, dir),
      col("user_id"), col("value"), col("ts"))
    Keyed.runningAggregate(ev, Seq(KeyCol), Seq(col(TsCol)),
      sum(col(ValueCol).cast("decimal(18,2)")), "__rs")
      .select(col(KeyCol).as("user_id"), unix_micros(col(TsCol)).as("ts_us"),
        col("__rs").cast("double").as("run_sum"))
  }

  /** #34 dedup + JSON props (#extension): scalar JSON extraction through
    * a MapValue xform. */
  private def qJson(s: SparkSession, dir: String): DataFrame = {
    // JSON parsing is per-row CPU work with no shuffle after it — scatter
    // the single-row-group events scan like the documents/embeddings reads
    val ev = Records.fromTable(graft.sources.Sources.scatter(eventsDf(s, dir)),
      col("event_id"), col("props"), col("ts"))
    val topo = Topology(
      workflow = Seq("events" -> "kx", "kx" -> "out"),
      entities = Map(
        "events" -> Entity.Topic("events"),
        "kx" -> Entity.KStream(Some(Xform.MapValue(
          get_json_object(col(ValueCol), "$.k").cast("int")))),
        "out" -> Entity.Topic("out")))
    run1(topo, Map("events" -> ev), "out").select(
      col(KeyCol).as("event_id"), col(ValueCol).as("k_val"))
  }

  /** End-to-end training-data pipeline as ONE topology: JSON props
    * extraction (MapValue) → quality filter → first-occurrence dedupe
    * (the spliced [[Fragments.dedupe]] fragment) per (user, event_type). */
  private def qPipeline(s: SparkSession, dir: String): DataFrame = {
    val ev = Records.fromTable(eventsDf(s, dir),
      col("event_id"),
      struct(col("user_id"), col("event_type"), col("value"), col("props")),
      col("ts"))
    val (dedupeEdges, dedupeEnts) = Fragments.dedupe("filt", "out",
      struct(col(s"$ValueCol.user_id"), col(s"$ValueCol.event_type")))
    val topo = Topology(
      workflow = Seq("events" -> "kx", "kx" -> "filt") ++ dedupeEdges,
      entities = Map(
        "events" -> Entity.Topic("events"),
        "kx" -> Entity.KStream(Some(Xform.MapValue(struct(
          col(s"$ValueCol.user_id").as("user_id"),
          col(s"$ValueCol.event_type").as("event_type"),
          get_json_object(col(s"$ValueCol.props"), "$.k").cast("int").as("k_val"),
          col(s"$ValueCol.value").as("amount"))))),
        "filt" -> Entity.KStream(Some(Xform.Filter(col(s"$ValueCol.amount") >= 1.0))),
        "out" -> Entity.Topic("out")) ++ dedupeEnts)
    run1(topo, Map("events" -> ev), "out").select(
      col(KeyCol).as("event_id"),
      col(s"$ValueCol.user_id").as("user_id"),
      col(s"$ValueCol.event_type").as("event_type"),
      col(s"$ValueCol.k_val").as("k_val"),
      col(s"$ValueCol.amount").as("amount"))
  }

  /** #18/#19 FoldAgg: order-sensitive per-key fold in timestamp order —
    * a rolling hash of each user's event-value sequence (non-associative,
    * so it proves the fold runs in ts order, not in shuffle order). */
  private def qFoldAgg(s: SparkSession, dir: String): DataFrame = {
    val ev = Records.fromTable(eventsDf(s, dir),
      col("user_id"), round(col("value") * 100).cast("long"), col("ts"))
    val p = 1000000007L
    val topo = Topology(
      workflow = Seq("events" -> "folded", "folded" -> "out"),
      entities = Map(
        "events" -> Entity.Topic("events"),
        // maxGroup: per-user event counts are bounded; a hot key past
        // this is a data bug — fail fast, don't buffer it (no-op on
        // healthy data, so the oracle is unaffected)
        "folded" -> Entity.KTable(aggregate = Some(AggSpec.FoldAgg(
          lit(0L), (acc, v) => (acc * 31L + v) % p, maxGroup = Some(1000000L)))),
        "out" -> Entity.Topic("out")))
    run1(topo, Map("events" -> ev), "out").select(
      col(KeyCol).as("user_id"), col(ValueCol).as("fold_hash"))
  }

  val all: Seq[Query] = Seq(
    Query("q01_agg_pricing", Light,
      s"""SELECT l_returnflag, l_linestatus,
        | ${dsumSql("l_quantity")} AS sum_qty,
        | ${dsumSql("l_extendedprice")} AS sum_base_price,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        | ${dsumSql("l_quantity")} / COUNT(*) AS avg_qty,
        | COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin)(q01),
    Query("q02_join_global_inner", Light,
      """SELECT l.l_orderkey, l.l_quantity, p.p_brand, p.p_retailprice
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey""".stripMargin)((s, d) => qGlobal(s, d, JoinType.Inner, partFiltered = false)),
    Query("q03_join_global_left", Light,
      """SELECT l.l_orderkey, l.l_quantity, p.p_brand, p.p_retailprice
        |FROM lineitem l LEFT JOIN (SELECT * FROM part WHERE p_size > 25) p
        |ON l.l_partkey = p.p_partkey""".stripMargin)((s, d) => qGlobal(s, d, JoinType.Left, partFiltered = true)),
    Query("q04_join_ss_inner", Light,
      """SELECT a.user_id, a.value AS click_val, b.value AS view_val,
        | epoch_us(greatest(a.ts, b.ts)) AS ts_us
        |FROM (SELECT * FROM events WHERE event_type = 'click') a
        |JOIN (SELECT * FROM events WHERE event_type = 'view') b
        |ON a.user_id = b.user_id
        | AND b.ts >= a.ts - INTERVAL 30 MINUTE AND b.ts <= a.ts + INTERVAL 30 MINUTE""".stripMargin)((s, d) => qSS(s, d, JoinType.Inner)),
    Query("q05_join_ss_left", Light,
      """SELECT a.user_id, a.value AS click_val, b.value AS view_val,
        | epoch_us(CASE WHEN b.ts IS NULL THEN a.ts ELSE greatest(a.ts, b.ts) END) AS ts_us
        |FROM (SELECT * FROM events WHERE event_type = 'click') a
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') b
        |ON a.user_id = b.user_id
        | AND b.ts >= a.ts - INTERVAL 30 MINUTE AND b.ts <= a.ts + INTERVAL 30 MINUTE""".stripMargin)((s, d) => qSS(s, d, JoinType.Left)),
    Query("q06_join_ss_outer", Light,
      """SELECT coalesce(a.user_id, b.user_id) AS user_id,
        | a.value AS click_val, b.value AS view_val,
        | epoch_us(CASE WHEN b.ts IS NULL THEN a.ts WHEN a.ts IS NULL THEN b.ts
        |   ELSE greatest(a.ts, b.ts) END) AS ts_us
        |FROM (SELECT * FROM events WHERE event_type = 'click') a
        |FULL JOIN (SELECT * FROM events WHERE event_type = 'view') b
        |ON a.user_id = b.user_id
        | AND b.ts >= a.ts - INTERVAL 30 MINUTE AND b.ts <= a.ts + INTERVAL 30 MINUTE""".stripMargin)((s, d) => qSS(s, d, JoinType.Outer)),
    Query("q07_join_tt_inner", Light,
      s"""SELECT o.o_custkey AS custkey, o.order_cnt, o.total_spent, c.c_acctbal
        |FROM (SELECT o_custkey, COUNT(*) AS order_cnt,
        |        ${dsumSql("o_totalprice")} AS total_spent
        |      FROM orders GROUP BY o_custkey) o
        |JOIN customer c ON o.o_custkey = c.c_custkey""".stripMargin)((s, d) => qTT(s, d, JoinType.Inner, filterOrders = false, filterCust = false)),
    Query("q08_join_tt_left", Light,
      s"""SELECT o.o_custkey AS custkey, o.order_cnt, o.total_spent, c.c_acctbal
        |FROM (SELECT o_custkey, COUNT(*) AS order_cnt,
        |        ${dsumSql("o_totalprice")} AS total_spent
        |      FROM orders GROUP BY o_custkey) o
        |LEFT JOIN (SELECT * FROM customer WHERE c_custkey % 3 = 0) c
        |ON o.o_custkey = c.c_custkey""".stripMargin)((s, d) => qTT(s, d, JoinType.Left, filterOrders = false, filterCust = true)),
    Query("q09_join_tt_outer", Light,
      s"""SELECT coalesce(o.o_custkey, c.c_custkey) AS custkey,
        | o.order_cnt, o.total_spent, c.c_acctbal
        |FROM (SELECT o_custkey, COUNT(*) AS order_cnt,
        |        ${dsumSql("o_totalprice")} AS total_spent
        |      FROM orders WHERE o_custkey % 2 = 0 GROUP BY o_custkey) o
        |FULL JOIN (SELECT * FROM customer WHERE c_custkey % 3 = 0) c
        |ON o.o_custkey = c.c_custkey""".stripMargin)((s, d) => qTT(s, d, JoinType.Outer, filterOrders = true, filterCust = true)),
    Query("q10_asof_left", Light,
      """SELECT p.user_id, p.value AS purchase_val, s.value AS signup_val,
        | epoch_us(p.ts) AS ts_us
        |FROM (SELECT user_id, value, ts FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT user_id, value, ts FROM events WHERE event_type = 'signup') s
        |ON p.user_id = s.user_id AND p.ts >= s.ts""".stripMargin)((s, d) => qAsOf(s, d, JoinType.Left)),
    Query("q11_asof_inner", Light,
      """SELECT p.user_id, p.value AS purchase_val, s.value AS signup_val,
        | epoch_us(p.ts) AS ts_us
        |FROM (SELECT user_id, value, ts FROM events WHERE event_type = 'purchase') p
        |ASOF JOIN (SELECT user_id, value, ts FROM events WHERE event_type = 'signup') s
        |ON p.user_id = s.user_id AND p.ts >= s.ts""".stripMargin)((s, d) => qAsOf(s, d, JoinType.Inner)),
    Query("q12_agg_running", Light,
      """SELECT user_id, epoch_us(ts) AS ts_us,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER
        |   (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS run_sum
        |FROM events""".stripMargin)(qRunning),
    Query("q13_window_tumbling", Light,
      s"""SELECT user_id, (epoch_ms(ts) // 86400000) * 86400000 AS ws,
        | COUNT(*) AS cnt, ${dsumSql("value")} AS sum_val
        |FROM events GROUP BY 1, 2""".stripMargin)((s, d) => qTimeWindow(s, d, 86400000L, 86400000L)),
    Query("q14_window_hopping", Light,
      s"""SELECT user_id, (epoch_ms(ts) // 86400000 - g.k) * 86400000 AS ws,
        | COUNT(*) AS cnt, ${dsumSql("value")} AS sum_val
        |FROM events, (SELECT unnest([0, 1]) AS k) g GROUP BY 1, 2""".stripMargin)((s, d) => qTimeWindow(s, d, 2 * 86400000L, 86400000L)),
    Query("q15_window_session", Light,
      s"""WITH d AS (
        | SELECT user_id, ts, value,
        |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |    OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 30 MINUTE
        |  THEN 1 ELSE 0 END AS brk
        | FROM events),
        |s AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |        ROWS UNBOUNDED PRECEDING) AS sid FROM d)
        |SELECT user_id, epoch_us(min(ts)) AS ss_us, COUNT(*) AS cnt,
        | ${dsumSql("value")} AS sum_val
        |FROM s GROUP BY user_id, sid""".stripMargin)(qSession),
    Query("q16_latest_per_key", Light,
      """SELECT user_id, event_type AS last_type, value AS last_val,
        | epoch_us(ts) AS ts_us
        |FROM events
        |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC) = 1""".stripMargin)(qLatest),
    Query("q17_merge", Light,
      """SELECT user_id, 'click' AS tag, value * 2 AS amount, epoch_us(ts) AS ts_us
        |FROM events WHERE event_type = 'click'
        |UNION ALL
        |SELECT user_id, 'error' AS tag, value + 100.0 AS amount, epoch_us(ts) AS ts_us
        |FROM events WHERE event_type = 'error'""".stripMargin)(qMerge),
    Query("q18_nary_join", Light,
      """SELECT l.l_orderkey, l.l_quantity AS qty, p.p_brand, s.s_name
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey""".stripMargin)(qNary),
    Query("q19_flatmap", Light,
      """SELECT user_id, unnest([value, -value]) AS value, epoch_us(ts) AS ts_us
        |FROM events""".stripMargin)(qFlatMap),
    Query("q20_rekey_agg", Light,
      s"""SELECT o_orderpriority, COUNT(*) AS cnt, ${dsumSql("o_totalprice")} AS total
        |FROM orders GROUP BY o_orderpriority""".stripMargin)(qRekey),
    Query("q33_json_props", Heavy,
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k_val
        |FROM events""".stripMargin)(qJson),
    // keepFirst orders by (ts, key=event_id, ...) at Spark's µs-floored
    // view of the NANOS ts — order at the same precision with the unique
    // event_id tiebreak so a future DuckDB that reads TIMESTAMP_NS
    // natively can't pick a different survivor on sub-µs ties
    Query("q35_pipeline", Light,
      """SELECT event_id, user_id, event_type,
        | CAST(json_extract_string(props, '$.k') AS INT) AS k_val,
        | value AS amount
        |FROM events WHERE value >= 1.0
        |QUALIFY row_number() OVER (
        |  PARTITION BY user_id, event_type ORDER BY CAST(ts AS TIMESTAMP), event_id) = 1""".stripMargin)(qPipeline),
    Query("q36_fold_agg", Light,
      """SELECT user_id,
        | list_reduce(
        |   list_prepend(CAST(0 AS BIGINT),
        |     list(CAST(round(value * 100) AS BIGINT) ORDER BY ts)),
        |   (acc, v) -> (acc * 31 + v) % 1000000007) AS fold_hash
        |FROM events GROUP BY user_id""".stripMargin)(qFoldAgg),
  )
}
