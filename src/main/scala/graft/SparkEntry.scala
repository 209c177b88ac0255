package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dsl._
import graft.batch.BatchCompiler
import graft.ops.{CacheScope, Dedup, Keyed, Multimodal, PiiScrub, Retrieval, Similarity, TextAnalysis}

/** Driver contract — named batch queries + DuckDB oracle twins.
  *
  * Every core-operator query (q01–q20) is expressed as a [[Topology]] and
  * compiled by [[BatchCompiler]] — the correctness gate executes the graft
  * engine, not raw Spark. Extension queries (q21+) exercise the
  * LLM-pipeline operator library (`graft.ops`). Column names are aliased
  * identically in the Spark plan and the oracle SQL (the driver sorts
  * columns by name before hashing). Timestamp outputs are converted to
  * epoch microseconds (BIGINT) on both sides to rule out physical-type
  * mismatches. */
object SparkEntry {

  import Records.{KeyCol, ValueCol, TsCol}

  /** Read one of the driver-provided tables. */
  def table(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Cheap corpus fingerprint folded into every session-lifetime model
    * key below (r17 ADVICE): [[graft.ops.CacheScope.model]] memoizes
    * fitted models for the JVM lifetime, and a key of (name, dir,
    * params) alone goes silently stale if a harness REGENERATES the
    * data under the same dir mid-session — a stale model is silently
    * wrong where a stale cache is merely slow. The stamp walks the
    * local dir (name, length, mtime per file — a handful of stat
    * calls, no data read) so any rewrite changes the key. Non-local
    * paths (no such File) stamp 0 and fall back to dir identity —
    * cluster deployments own their model lifecycle via
    * [[graft.ops.CacheScope.using]] scopes. */
  private def corpusStamp(dir: String): Long = {
    // depth-bounded and null-safe (r18 review catch): listFiles()
    // returns null on an unreadable/racing directory — stamp what is
    // visible rather than NPE-ing every fit query; the depth bound
    // makes a symlink cycle terminate (fixture dirs are 1 level deep)
    def walk(f: java.io.File, depth: Int): Long =
      if (f.isDirectory && depth < 8) {
        val kids = f.listFiles()
        if (kids == null)
          f.getName.hashCode.toLong * 31 + f.lastModified()
        else kids.sortBy(_.getName)
          .foldLeft(f.getName.hashCode.toLong)(
            (a, c) => a * 31 + walk(c, depth + 1))
      }
      else (f.getName.hashCode.toLong * 31 + f.length()) * 31 +
        f.lastModified()
    val root = new java.io.File(dir)
    if (root.exists()) walk(root, 0) else 0L
  }

  /** Read a table that feeds CPU-heavy per-row work (shingling, hashing,
    * cosine). The testdata files are single-row-group parquet —
    * unsplittable, so a bare scan plans ONE partition and serializes all
    * that work onto one core; [[graft.sources.Sources.scatter]]
    * redistributes when (and only when) the scan is narrower than the
    * cluster. Shuffle-bound queries keep the plain `table` read: the
    * first shuffle re-spreads them anyway, and the extra exchange would
    * just add latency. */
  def cpuTable(s: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Sources.scatter(table(s, dir, name))

  /** events has a TIMESTAMP(NANOS) ts column, which Spark only reads as
    * LongType (spark.sql.legacy.parquet.nanosAsLong=true, set by
    * [[LocalSession]]). Convert to a microsecond TIMESTAMP by exact integer
    * floor division — the same truncation DuckDB applies when it reads
    * nanos into its microsecond timestamps, so oracles agree. */
  def eventsDf(s: SparkSession, dir: String): DataFrame = {
    val df = table(s, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => df.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_agg_pricing")(spark, "/root/testdata/sf0.001")

  // Exact-sum idiom: sum doubles through DECIMAL(18,2) so the result is
  // order-independent (fp sums are not associative), then cast back to
  // DOUBLE so the schema matches DuckDB's.
  private def dsum(c: Column) = sum(c.cast("decimal(18,2)")).cast("double")
  private val DsumSql = "CAST(SUM(CAST(%s AS DECIMAL(18,2))) AS DOUBLE)"
  private def dsumSql(c: String) = DsumSql.format(c)

  /** events normalized to records: key=user_id, value=(event_type, value). */
  private def evRecords(s: SparkSession, dir: String): DataFrame =
    Records.fromTable(eventsDf(s, dir),
      col("user_id"), struct(col("event_type"), col("value")), col("ts"))

  private def run1(t: Topology, inputs: Map[String, DataFrame], sink: String): DataFrame =
    BatchCompiler.run(t, inputs)(sink)

  // ------------------------------------------------------------------ //
  //  Core operators, via the Topology DSL                               //
  // ------------------------------------------------------------------ //

  /** #18 aggregate + #8 filter xform + #15 group key: TPC-H Q1 pricing
    * summary as topic → kstream(filter) → ktable(agg) → topic. */
  private def q01(s: SparkSession, dir: String): DataFrame = {
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

  // ------------------------------------------------------------------ //
  //  LLM-pipeline extension operators (graft.ops)                       //
  // ------------------------------------------------------------------ //

  /** LSH bucket-size bound, with TWO contracts by op family (r17):
    * near-dup ops (q24/q25/q28 bands and threshold sign buckets) DROP
    * over-cap buckets — an over-full bucket there means already-known
    * near-identical docs, and the drop is mirrored in their oracles via
    * `QUALIFY count(*) OVER (PARTITION BY bucket) <= cap`; the
    * kNN/retrieval/labeling family (q46/q62/q106/q111/q113/q133/q165/
    * q166 and q118's label stage) FAIL-FASTS instead — an over-full
    * cell/sign bucket is a popular region whose silent drop removes
    * members from every candidate set (the r16/r17 cap-masking catch),
    * so those oracles carry NO occupancy filter. */
  private[graft] val LshMaxBucket = 1000L

  /** Registered sign-LSH ANN defaults (q27/q113/q133, evaluated by
    * q137) — picked from the measured RecallSweep table, not assumed:
    * the r14 default (8 bits, Hamming ≤ 1) measured recall@10 = 24%
    * mean on the fixture (not deployment grade); (4 bits, Hamming ≤ 2)
    * measures 84–85% at both SFs at 11/16-cells probe cost (full curve
    * in SCALING.md "ANN recall sweep"). The sweep also shows WHY: these
    * embeddings' near neighbors freely cross coordinate hyperplanes, so
    * recall per scanned row is inherently weak for sign-LSH here —
    * which is why the kNN-JOIN family (q46/q62) is registered on the
    * FITTED-IVF quantizer instead ([[IvfProbe]]); sign-LSH stays the
    * default only where its zero-fit, pure-projection cell key is the
    * point (the live/streaming twins, the q113/q133 graph builds it
    * feeds). Re-measure recall with q137's harness after every knob
    * change; both families' recall AND scan fraction sit on the q149
    * eval card. */
  private val AnnBits = 4
  private val AnnHamming = 2

  /** FIXED-CELL PIN for the fitted-IVF family (q165's sampled fit,
    * q166's two-level derivation): 32 cells, picked from the measured
    * sweep (SCALING.md "ANN recall sweep") — at the fixture's 2k
    * vectors, 32 cells read 88–91% recall@10 scanning 3–12% (nProbe
    * 1–4), vs ~82% at ~50% scanned for 8 cells. NO LONGER the
    * registered default geometry: fixed cells go quadratic (measured
    * exponent 1.07) and the occupancy guard refuses them at 10× on
    * clustered data (r17 closing sweep), so the flagship consumers
    * (q46/q62/q149/q156/q162) moved to [[registeredCells]]' derived
    * count (r18, verdict task 1). */
  private val IvfCells = 32
  private[graft] val IvfProbe = 4

  /** The registered quantizer's target MEAN cell occupancy: cells =
    * ⌈corpus / TargetCellOcc⌉ holds per-cell population roughly
    * constant as the corpus grows — the scaled-cells discipline the
    * r16/r17 probes validated (exponent 0.63–0.72 with FULL row
    * counts vs 1.07 at fixed cells). 64 reproduces the fixture-tuned
    * geometry at bench scale (2,000 vectors → 32 cells — the sweep's
    * recall-per-scan winner) and lands 8 cells at the sf0.01 oracle
    * fixture. The count is a 1-row aggregate interpolable into BOTH
    * engines ([[CellsSql]]), so the oracle derives the identical cell
    * count from the same corpus. */
  private[graft] val TargetCellOcc = 64

  /** [[registeredCells]] in DuckDB — the same `greatest(2,
    * ceil(count/occ))` over non-null embeddings, as a scalar subquery
    * the fit CTEs' seed rule consumes ([[kmeansFitCtes]] `kcSql`). */
  private val CellsSql: String =
    s"(SELECT greatest(2, CAST(ceil(count(*) / $TargetCellOcc.0) AS BIGINT))" +
      " FROM embeddings WHERE embedding IS NOT NULL)"

  /** q169's split thresholds ([[Similarity.refineHotCells]]): a cell
    * over SplitAbove members splits into ⌈n/SplitTargetOcc⌉ locally-
    * fitted sub-cells. 40/32 sit BELOW the fixture's ~63 mean occupancy
    * on purpose — the oracle query must actually exercise the split
    * arithmetic (hot detection, per-parent seeds, the grouped Lloyd
    * round, the cold ∪ sub-cell union) at sf0.01, not just the no-op
    * path. A deployment sets SplitAbove near its occupancy guard. */
  private[graft] val SplitAbove = 40L
  private[graft] val SplitTargetOcc = 32L

  /** q169's sub-fit depth: 2 grouped Lloyd rounds — the measured knee
    * of the RecallSweep `ivf_split_k32_i{1,2,3}` depth sweep (1 leaves
    * sub-centroids near their lowest-id seeds; 3 over-fits and drops
    * back). */
  private[graft] val SplitIters = 2

  /** The quantizer-training sample fraction: deterministic hash
    * membership (`hash60("ivf" || vec_id) % 10⁴ < 5000`), so both
    * engines and any rerun see the identical training set.
    *
    * 0.5 since r19, from the MEASURED recall decomposition (SCALING.md
    * "the registered geometry's recall, measured"): with cells ∝
    * corpus/[[TargetCellOcc]] the per-cell fit density is fraction ×
    * occupancy — a corpus-size-independent constant — and the r18
    * fraction (0.25 → 16 points/cell) starved the Lloyd update:
    * 7440 bp recall@10 at the bench operating point vs 8440 at 0.5
    * (32/cell) vs 9080 at a full fit (64/cell), all at matched scan.
    * The fit pass costs fraction × corpus × cells, so 0.5 doubles the
    * (sub-dominant) fit term the probes price — the r19 re-probe of
    * `knn_join_registered` confirms the exponent holds.
    *
    * r20: confirmed as the KNEE of a measured two-axis curve
    * (SCALING.md round 20, "Fit-fraction frontier"):
    * recall increments decelerate past 0.5 (+1,000 bp for 0.25→0.5,
    * +440 for 0.5→0.75, +200 for 0.75→1.0) while the fit-cost
    * increments grow with scale (0.5→1.0 = +38% of the fit at 30×,
    * trending to +100% — the term is linear in fraction). The
    * remaining 640 bp to a full fit is priced, not open: fit at 1.0
    * once and amortize through the q174 artifact when a corpus wants
    * it; the self-contained registered queries keep 0.5 because they
    * re-pay the fit in-query by design. */
  private[graft] val SampleFitFraction = 0.5

  /** [[SampleFitFraction]]'s membership predicate in DuckDB —
    * [[graft.ops.Sampling.hashSample]]("vec_id", 0.5, "ivf") exactly
    * (the cross-engine hash60 identity, seed prepended). */
  private val SamplePredSql: String =
    "CAST(('0x'||substr(md5('ivf'||CAST(vec_id AS VARCHAR)),1,15)) " +
      "AS BIGINT) % 10000 < 5000"

  /** Registered multi-probe depth for semantic dedup (q64, and q118's
    * first stage): each cell's representative registers under its own
    * cell plus `SemProbes − 1` least-confident sign flips
    * ([[graft.ops.Similarity.probeCells]]), closing the one-crossed-
    * hyperplane blind spot while members keep one cell key each.
    * Measured on the fixture: drops rise 6 → 13 of 500 vs
    * same-cell-only (11 from members reaching neighbor-cell reps, 2
    * from the rep-vs-rep survivor rule), overfull-cell pass-through
    * unchanged. */
  private val SemProbes = 3

  private val DedupCols = Seq("l_orderkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount")

  private def qDedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(table(s, dir, "lineitem"), DedupCols)

  private val LatestPayload = Seq("l_shipdate", "l_quantity", "l_extendedprice",
    "l_partkey", "l_suppkey")

  private def qDedupLatest(s: SparkSession, dir: String): DataFrame =
    Dedup.keepLatest(table(s, dir, "lineitem"),
      Seq("l_orderkey", "l_linenumber"), LatestPayload)
      .withColumn("ship_us", unix_micros(col("l_shipdate").cast("timestamp")))
      .drop("l_shipdate")

  private def qDedupNgram(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(cpuTable(s, dir, "documents"), "doc_id", col("text"),
      n = 3, threshold = 0.5, maxDf = 100)

  private def qDedupMinhash(s: SparkSession, dir: String): DataFrame = {
    // one row per doc, consumed by banding + both sides of the est join;
    // session-scoped like every operator cache (freed by clearCache)
    val sigs = CacheScope.session.cache(
      Dedup.minHashSignatures(cpuTable(s, dir, "documents"), "doc_id",
        col("text"), n = 3, k = 8))
    val cands = Dedup.lshCandidates(sigs, "doc_id", k = 8, rowsPerBand = 4,
      maxBucket = LshMaxBucket)
    val sa = sigs.select(col("doc_id").as("a"), col("sig").as("__sa"))
    val sb = sigs.select(col("doc_id").as("b"), col("sig").as("__sb"))
    cands.join(sa, "a").join(sb, "b")
      .withColumn("est",
        (0 until 8).map(i => when(col("__sa").getItem(i) === col("__sb").getItem(i), 1)
          .otherwise(0): Column).reduce(_ + _).cast("double") / 8.0)
      .select("a", "b", "est")
  }

  private def qDedupSimhash(s: SparkSession, dir: String): DataFrame = {
    // one row per doc, read by both banded join sides; session-scoped
    // like every operator cache (freed by clearCache)
    val sigs = CacheScope.session.cache(
      Dedup.simHashSignatures(cpuTable(s, dir, "documents"), "doc_id", col("text")))
    Dedup.simHashPairs(sigs, "doc_id", bits = 32, maxHamming = 3,
      maxBucket = LshMaxBucket)
      .withColumn("hamming", col("hamming").cast("long"))
  }

  private def qSimTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = cpuTable(s, dir, "embeddings")
    Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10)
  }

  private def qSimLsh(s: SparkSession, dir: String): DataFrame = {
    val emb = cpuTable(s, dir, "embeddings")
    Similarity.lshTopK(emb, "vec_id", "embedding",
      emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 5,
      signBits = AnnBits, probeHamming = AnnHamming)
  }

  private def qDedupNormalized(s: SparkSession, dir: String): DataFrame =
    // full canonical mapping (onlyDups = false): the testdata has no
    // normalized duplicates at small SF, and the mapping is what a
    // pipeline persists and anti-joins against anyway
    Dedup.exactNormalized(cpuTable(s, dir, "documents"), "doc_id", col("text"),
      onlyDups = false)

  private def qDedupDropNormalized(s: SparkSession, dir: String): DataFrame =
    Dedup.dropNormalizedDups(cpuTable(s, dir, "documents"), "doc_id", col("text"))
      .select(col("doc_id"), col("lang"), col("n_chars"))

  private def qSimIvf(s: SparkSession, dir: String): DataFrame = {
    val raw = table(s, dir, "embeddings")
    val emb = graft.sources.Sources.scatter(raw)
    // centroids are a model parameter (production: offline k-means —
    // see q156 for the FITTED variant); the 8 lowest-id corpus vectors
    // make the cell assignment deterministic and oracle-mirrorable.
    val cents = seedCentroids(raw)
    Similarity.ivfTopK(emb, "vec_id", "embedding",
      emb.filter(col("vec_id") < 5), "vec_id", "embedding",
      cents, k = 5, nProbe = 2)
  }

  private def qCosineNearDup(s: SparkSession, dir: String): DataFrame =
    Dedup.cosineNearDupPairs(cpuTable(s, dir, "embeddings"), "vec_id",
      col("embedding"), signBits = 8, threshold = 0.9, maxBucket = LshMaxBucket)

  private def qTextQuality(s: SparkSession, dir: String): DataFrame = {
    val st = TextAnalysis.qualityStats(col("text"))
    cpuTable(s, dir, "documents").select(
      col("doc_id") +: st.map { case (n, c) => c.as(n) }: _*)
  }

  private def qLangId(s: SparkSession, dir: String): DataFrame =
    cpuTable(s, dir, "documents").select(
      col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))

  private def qTokenCount(s: SparkSession, dir: String): DataFrame =
    cpuTable(s, dir, "documents").select(
      col("doc_id"),
      TextAnalysis.wsTokenCount(col("text")).as("ws_tokens"),
      TextAnalysis.regexTokenCount(col("text")).as("re_tokens"))

  private def qFingerprint(s: SparkSession, dir: String): DataFrame =
    cpuTable(s, dir, "documents").select(
      col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))

  private def qMultimodal(s: SparkSession, dir: String): DataFrame = {
    val packed = Multimodal.pack(cpuTable(s, dir, "documents"),
      col("doc_id"), encode(col("text"), "UTF-8"), lit("text/plain"), col("source"))
    packed
      .withColumn("__dec", Multimodal.decodeImageStub(col("payload")))
      .withColumn("__rsz", Multimodal.resizeStub(col("__dec"), 256))
      .withColumn("__feat", Multimodal.extractFeaturesStub(col("payload"), 4))
      .select(
        col("id").as("doc_id"),
        col("meta.n_bytes").as("n_bytes"),
        col("__dec.width").as("width"),
        col("__dec.height").as("height"),
        col("__dec.channels").as("channels"),
        col("__rsz.width").as("rw"),
        col("__rsz.height").as("rh"),
        col("__feat").getItem(0).as("f0"),
        col("__feat").getItem(1).as("f1"))
  }

  // ------------------------------------------------------------------ //
  //  Scale-shape operators: skew salting, range join                    //
  // ------------------------------------------------------------------ //

  /** Skew-salted fact-to-dimension equi-join ([[Joins.salted]]): lineitem
    * (probe) × orders (build) on the order key, spread over 8 salts, then
    * aggregated per priority. Result identical to the plain join — the
    * salt only changes row placement. */
  private def qSaltedJoin(s: SparkSession, dir: String): DataFrame = {
    val li = table(s, dir, "lineitem")
      .select(col("l_orderkey").as("orderkey"), col("l_quantity"))
    val ord = table(s, dir, "orders")
      .select(col("o_orderkey").as("orderkey"), col("o_orderpriority"))
    graft.ops.Joins.salted(li, ord, Seq("orderkey"), nSalts = 8)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"), dsum(col("l_quantity")).as("sum_qty"))
  }

  /** Bucketed point-in-range join ([[Joins.rangeJoin]]): orders priced
    * into $50k bands (a 12-row ranges table Spark would otherwise plan as
    * BroadcastNestedLoop with a per-row range test). Prices as exact
    * cents (round half-up matches DuckDB on IEEE doubles). */
  private def qRangeJoin(s: SparkSession, dir: String): DataFrame = {
    val bandW = 5000000L // $50k in cents
    val bands = s.range(12).select(col("id").as("band_id"),
      (col("id") * bandW).as("lo"), ((col("id") + 1) * bandW - 1).as("hi"))
    val pts = table(s, dir, "orders").select(
      round(col("o_totalprice") * 100).cast("long").as("cents"),
      col("o_totalprice"))
    graft.ops.Joins.rangeJoin(pts, "cents", bands, "lo", "hi",
      bucketWidth = 1000000L)
      .groupBy(col("band_id"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_price"))
  }

  /** Grouped top-n via the bounded-heap aggregator ([[Rank.topNPerGroup]]):
    * top-3 suppliers by shipped quantity per nation. Quantities are
    * integral doubles, so the double-score ordering is exact on both
    * engines; ties break by ascending supplier id. */
  private def qTopNPerGroup(s: SparkSession, dir: String): DataFrame = {
    val li = table(s, dir, "lineitem").select(col("l_suppkey"), col("l_quantity"))
    val sup = table(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
    val nat = table(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
    val byNation = li
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("s_suppkey"))
      .agg(dsum(col("l_quantity")).as("sum_qty"))
    graft.ops.Rank.topNPerGroup(byNation, Seq("n_name"), "s_suppkey", "sum_qty", 3)
      .select(col("n_name"), col("id").as("s_suppkey"),
        col("score").as("sum_qty"), col("rank"))
  }

  /** Multi-grain aggregate in one pass: ROLLUP over (returnflag,
    * linestatus) — detail rows, per-flag subtotals, and the grand total
    * from a single shuffle (each input row expands to its grouping
    * sets map-side; partial aggregation still applies). */
  private def qRollup(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_rows"), dsum(col("l_quantity")).as("sum_qty"))

  /** Deterministic train/val/test assignment ([[Sampling.hashSplit]]):
    * a pure function of (seed, doc_id) — reproducible across runs,
    * engines, and partitionings, mirrored exactly by the DuckDB oracle
    * through the shared md5-based hash. */
  private def qHashSplit(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.hashSplit(
      table(s, dir, "documents").select(col("doc_id")),
      "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = "s1")

  /** Sketch profile ([[Sketches.profile]]): per-language corpus summary.
    * The driver sees the DETERMINISTIC projection only — n_rows/val_min/
    * val_max are exact, and at sf0.01 every lang group holds far fewer
    * rows than percentile_approx's accuracy=10000, so val_p25/p50/p75
    * are exact order statistics, mirrored by DuckDB `quantile_disc`
    * (verified cell-for-cell on the driver data: 15/15 equal, including
    * integer-rank ties). The engine-specific HLL `approx_ids` column is
    * excluded here and covered by AnalyticsOpsSpec's error-bound test —
    * the driver has NO fallback check for un-oracled queries. */
  private def qSketchProfile(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sketches.profile(
      table(s, dir, "documents"), Seq("lang"), "doc_id", "n_chars")
      .drop("approx_ids")

  /** Approximate kNN JOIN on the registered fitted-IVF default
    * ([[Similarity.knnJoinIvf]]): top-3 neighbors for EVERY corpus
    * vector — the whole-corpus neighbor graph behind clustering/
    * diversity sampling, vs q26/q27's small broadcast query set. Since
    * r18 the default geometry is [[registeredCentroids]] — cells
    * derived from the corpus count, quantizer fit on a hash sample —
    * the shape whose 10×/30× probes complete with FULL rows and a
    * silent guard (the fixed-32 pin refused at 10× on clustered data,
    * r17 sweep). The fit runs in-query (the q156 convention: the query
    * is self-contained and the oracle unrolls every fit round in CTEs,
    * the derived cell count included); a deployment fits once and
    * amortizes. */
  private def qKnnJoin(s: SparkSession, dir: String): DataFrame =
    Similarity.knnJoinIvf(cpuTable(s, dir, "embeddings"), "vec_id",
      "embedding", k = 3, centroids = registeredCentroids(s, dir),
      nProbe = IvfProbe, maxCellOccupancy = LshMaxBucket)

  /** q46's kNN join with quantized coarse scoring + full-precision
    * rerank ([[Similarity.knnJoinIvfQuantized]]): the candidate hot
    * loop scores int8 vectors (codegen [[graft.functions.Int8Cos]], ¼
    * the memory traffic), the float32 vectors move only for the
    * coarseK-deep shortlist. Same cells as q46, same output shape. */
  private def qKnnQuantized(s: SparkSession, dir: String): DataFrame =
    Similarity.knnJoinIvfQuantized(cpuTable(s, dir, "embeddings"), "vec_id",
      "embedding", k = 3, centroids = registeredCentroids(s, dir),
      nProbe = IvfProbe, coarseK = 10, maxCellOccupancy = LshMaxBucket)

  /** q165's quantizer: 2 Lloyd rounds trained on the fitFraction =
    * [[SampleFitFraction]] deterministic hash sample ([[Similarity
    * .kmeansFitInt8]]'s r17 knob), seeded by the [[IvfCells]]
    * LOWEST-ID SAMPLED vectors — the whole model history is
    * sample-pure, so the oracle unrolls it with the sample as a WHERE
    * predicate and an ORDER BY/LIMIT seed rule. Memoized like
    * [[fittedCentroids]]. */
  private def sampledCentroids(s: SparkSession, dir: String): Seq[(Int, Array[Float])] =
    CacheScope.session.model(("sampledCentroids", dir,
        corpusStamp(dir), IvfCells, 2, SampleFitFraction)) {
      val all = table(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val sample = graft.ops.Sampling.hashSample(
        all, "vec_id", SampleFitFraction, "ivf")
      val seeds = sample.orderBy(col("vec_id")).limit(IvfCells)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toArray))
        .toSeq.sortBy(_._1)
      Similarity.kmeansFitInt8(all, "embedding", seeds, iters = 2,
        fitFraction = SampleFitFraction, fitIdCol = "vec_id",
        fitSeed = "ivf")
    }

  /** q165: the sample-fit kNN join at the FIXED-CELL PIN —
    * [[Similarity.knnJoinIvf]] over [[sampledCentroids]] (32 cells,
    * quantizer fit on the hash sample). Historically this query was
    * the scale-safe sibling of a fixed-geometry q46; since the r18
    * flip q46 itself runs the derived-cells/sampled fit
    * ([[registeredCentroids]]), and q165 remains as the CELL-COUNT
    * CONTROL: same sample-fit discipline, cell count pinned at
    * [[IvfCells]] instead of derived — the A/B that isolates what the
    * derived count buys (and the oracle shape that proved the sampled
    * model history unrollable end to end). Same k/nProbe/guard as
    * q46. */
  private def qKnnSampledFit(s: SparkSession, dir: String): DataFrame =
    Similarity.knnJoinIvf(cpuTable(s, dir, "embeddings"), "vec_id",
      "embedding", k = 3, centroids = sampledCentroids(s, dir),
      nProbe = IvfProbe, maxCellOccupancy = LshMaxBucket)

  /** q166: the TWO-LEVEL (IMI-style) kNN join ([[Similarity
    * .knnJoinIvf2L]]) — the next-decade knob after q165's cells ∝
    * corpus: once cells grow with the corpus, the FLAT assignment
    * (corpus × cells cosines) is itself the super-linear term, and the
    * two-level descent replaces it with ∝ branches + branchProbes ·
    * replicas · cells/branches per row. The index is DERIVED from
    * q46's fitted centroids with NO second corpus pass
    * ([[Similarity.twoLevelIndexFitted]]: a driver-side cells-sized
    * Lloyd fit of the 8 tops under the exact kmeansStepInt8
    * discipline, fines registered under their 2 nearest tops), so the
    * oracle unrolls the whole structure — top fit rounds, replicated
    * registration, descent, assignment, probes — from the same fit
    * CTEs. Registered at the sweep's best recall point (RecallSweep
    * ivf_2l_k32_b8_fit_r2: branchProbes 3, 7960 bp at the same 12.6%
    * scan as q46's 9080 — the measured cost of the sublinear
    * assignment on this fixture's shallow 32-cell hierarchy). Same
    * k/nProbe/guard as q46. */
  private def qKnnTwoLevel(s: SparkSession, dir: String): DataFrame = {
    val (tops, fines) = CacheScope.session.model(
        ("twoLevel", dir, corpusStamp(dir), IvfCells, 8, 2, 2)) {
      Similarity.twoLevelIndexFitted(fittedCentroids(s, dir),
        branches = 8, iters = 2, replicas = 2)
    }
    Similarity.knnJoinIvf2L(cpuTable(s, dir, "embeddings"), "vec_id",
      "embedding", k = 3, tops, fines,
      branchProbes = 3, nProbe = IvfProbe,
      maxCellOccupancy = LshMaxBucket)
  }

  /** q169: the SKEW-SPLIT kNN join (r18, verdict task 2) —
    * [[Similarity.refineHotCells]] refines the registered quantizer
    * before the join: cells whose population exceeds [[SplitAbove]]
    * are REPLACED by ⌈n/[[SplitTargetOcc]]⌉ sub-centroids fitted
    * locally on the hot cell's members (one grouped Lloyd round, the
    * kmeansFitInt8 arithmetic keyed by (parent, seed)), and the join
    * runs [[Similarity.knnJoinIvf]] over the refined flat list —
    * IDENTICAL consumer machinery, finer geometry exactly where the
    * data is dense. This is the knob for the skew-bound regime the r17
    * sweep named (scaled cells bound the MEAN; the HOT cell still
    * guards): where q46's derived count holds the average, q169's
    * refinement relieves the popular region. The oracle unrolls the
    * whole split history — occupancy, hot set, per-parent seed rule,
    * the sub-fit round, the cold ∪ sub-cell union, and the refined
    * assignment/probe/join. Same k/nProbe/guard as q46. */
  private def qKnnSplit(s: SparkSession, dir: String): DataFrame = {
    val refined = CacheScope.session.model(("refinedCentroids", dir,
        corpusStamp(dir), ivfModelGen(dir), TargetCellOcc, SplitAbove,
        SplitTargetOcc, SplitIters)) {
      Similarity.refineHotCells(cpuTable(s, dir, "embeddings"), "vec_id",
        "embedding", registeredCentroids(s, dir),
        splitAbove = SplitAbove, targetOcc = SplitTargetOcc,
        iters = SplitIters)
    }
    Similarity.knnJoinIvf(cpuTable(s, dir, "embeddings"), "vec_id",
      "embedding", k = 3, centroids = refined, nProbe = IvfProbe,
      maxCellOccupancy = LshMaxBucket)
  }

  /** q172: the index occupancy / split-decision report
    * ([[Similarity.ivfOccupancyReport]]) over the registered quantizer
    * — the instrument a deployment reads BEFORE the occupancy guard
    * fires: per cell, the exact population, whether it exceeds the
    * q169 split threshold, and the sub-cell count [[Similarity
    * .refineHotCells]] would fit for it. Empty cells report n = 0
    * (drift evidence, q160's territory) rather than vanishing. Closes
    * the operational loop the round built: report (q172) → split
    * (q169) → guard (q46's fail-fast) all on one geometry, each stage
    * oracle-gated. */
  private def qIvfOccupancy(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfOccupancyReport(cpuTable(s, dir, "embeddings"),
      "embedding", registeredCentroids(s, dir),
      guardAt = SplitAbove, targetOcc = SplitTargetOcc)

  /** q173: the AUTO-ROUTED kNN join (r19, verdict task 1 — the engine
    * acting on its own measurements): [[Similarity.knnJoinIvfAuto]]
    * derives the geometry route from the same corpus count the
    * registered cells derive from, instead of a human reading q172's
    * report and SCALING.md's boundary tables. Cells ≥ [[Similarity
    * .TwoLevelAtCells]] (the measured flat-vs-descent crossover —
    * reached at ~262k corpus vectors under [[TargetCellOcc]]) →
    * q166's two-level descent; below it → q169's hot-cell refinement,
    * whose split arm engages exactly when any cell exceeds
    * [[SplitAbove]] and is the IDENTITY otherwise. Same k/nProbe/
    * guard/split constants as q46/q169 everywhere, so the oracle is
    * q169's VERBATIM (one truth, two registered plans — the q171 ≡
    * q168 convention): its `shot` CTE already conditions the split on
    * the data, so the SQL covers both sub-boundary arms; the
    * above-boundary arm is unreachable at any oracle fixture (8–32
    * derived cells) and is pinned by the knnJoinIvfAuto ≡ knnJoinIvf2L
    * congruity unit test plus the `knn_join_auto_dense` ScaleProbe row
    * on a 10⁴-cell fixture. */
  private def qKnnAuto(s: SparkSession, dir: String): DataFrame =
    Similarity.knnJoinIvfAuto(cpuTable(s, dir, "embeddings"), "vec_id",
      "embedding", k = 3, centroids = registeredCentroids(s, dir),
      nProbe = IvfProbe, splitAbove = SplitAbove,
      targetOcc = SplitTargetOcc, splitIters = SplitIters,
      maxCellOccupancy = LshMaxBucket,
      // fit-once: the auto route's derived index (the refined list
      // below the boundary) is memoized per corpus like q169's —
      // without this the query re-paid the refine fit per execution
      // (measured 4.85 s vs q169's 1.71 at bench)
      modelMemoKey = ("q173auto", dir, corpusStamp(dir),
        ivfModelGen(dir), TargetCellOcc, SampleFitFraction))

  /** q178: the SEED-QUALITY report over the registered seed rule (r20,
    * verdict task 6): [[Similarity.seedCoverageReport]] with nSeeds =
    * the derived cell count ([[registeredCells]] — exactly the prefix
    * [[registeredCentroids]] seeds from) and 8 sign bits. Per
    * populated sign-cell: corpus population, seeds landed, covered
    * 0/1 — the per-corpus precondition check for the prefix seed rule
    * (on corpora whose id order correlates with content the prefix is
    * NOT a stratified draw; SCALING.md round 20, "Seed-stratification
    * audit", measures both shapes). 4 sign bits per the operator's
    * granularity rule — 2^bits strata must not exceed the seed count,
    * or the report under-covers by construction (measured at 8 bits:
    * ~8600 bp "uncovered" on BOTH healthy and adversarial shapes —
    * no signal). The oracle unrolls the sign-cell sum, the derived
    * count ([[CellsSql]]) and the prefix boundary as scalar
    * subqueries. */
  private def qSeedCoverage(s: SparkSession, dir: String): DataFrame =
    Similarity.seedCoverageReport(table(s, dir, "embeddings"), "vec_id",
      "embedding", nSeeds = registeredCells(s, dir), signBits = 4)

  /** q177: the auto route's TWO-LEVEL ARM under the driver gate (r20,
    * verdict task 7 — r19 registered the router but no oracle fixture
    * reaches [[Similarity.TwoLevelAtCells]] = 4096 derived cells, so
    * the above-boundary arm was pinned only by unit congruity + a
    * probe assert): [[Similarity.knnJoinIvfAuto]] with the boundary
    * knob LOWERED to the fixture's fixed cell count ([[IvfCells]] =
    * 32 ≤ cells, so the router provably takes the descent — the knob
    * exists precisely so deployments can tune the crossover, and the
    * route rule `centroids.size >= twoLevelAtCells` is a driver-side
    * size check with zero jobs). Every constant is q166's: the same
    * [[fittedCentroids]] base, branches = [[Similarity
    * .twoLevelBranches]](32) = 8, topIters = 2, replicas = 2,
    * branchProbes = 3, same k/nProbe/guard — so the output IS q166's
    * two-level join and the oracle is q166's SQL verbatim (one truth,
    * two plans; AutoRouteSpec pins the arm congruity knnJoinIvfAuto ≡
    * knnJoinIvf2L at these knobs, and with q173 BOTH arms of the
    * registered router now carry a green oracle row). */
  private def qKnnAutoTwoLevel(s: SparkSession, dir: String): DataFrame =
    Similarity.knnJoinIvfAuto(cpuTable(s, dir, "embeddings"), "vec_id",
      "embedding", k = 3, centroids = fittedCentroids(s, dir),
      nProbe = IvfProbe, splitAbove = SplitAbove,
      targetOcc = SplitTargetOcc, splitIters = SplitIters,
      twoLevelAtCells = IvfCells, branchProbes = 3, replicas = 2,
      topIters = 2, maxCellOccupancy = LshMaxBucket,
      modelMemoKey = ("q177auto", dir, corpusStamp(dir), IvfCells))

  /** Ranking-window family (lag/lead — absent from the reference,
    * SURVEY §2.7): per-user event sequencing with the previous event's
    * type and the inter-event gap. Deterministic order: (µs timestamp,
    * event_id) on both engines — the oracle must order by the SAME
    * µs-truncated instant, not its nanosecond original, or ns-level ties
    * reorder the lag. One shuffle on user_id; the window scan is linear
    * per partition. */
  private def qLagLead(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    eventsDf(s, dir)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_type"))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        lag(col("event_type"), 1).over(w).as("prev_type"),
        (col("ts_us") - lag(col("ts_us"), 1).over(w)).as("gap_us"))
  }

  /** Set operations (absent from the reference, SURVEY §2.7): the user
    * cohorts that both clicked and purchased (INTERSECT) vs clicked and
    * never purchased (EXCEPT), tagged and unioned. Hash-shuffle
    * distincts on user_id — set ops are aggregates, not sorts. */
  private def qSetOps(s: SparkSession, dir: String): DataFrame = {
    val ev = table(s, dir, "events")
    def users(t: String) = ev.filter(col("event_type") === t).select(col("user_id"))
    users("click").intersect(users("purchase"))
      .select(col("user_id"), lit("both").as("cohort"))
      .unionAll(users("click").except(users("purchase"))
        .select(col("user_id"), lit("click_only").as("cohort")))
  }

  /** Skew diagnostic: the heaviest keys and their traffic share — what a
    * pipeline inspects before choosing [[Joins.salted]] / AQE skew
    * handling. Count-per-key partial-aggregates map-side; the global
    * top-10 plans as TakeOrderedAndProject (per-partition heap + driver
    * merge of 10 rows — no full sort); the grand total joins back as a
    * broadcast of one row. */
  private def qHeavyKeys(s: SparkSession, dir: String): DataFrame = {
    val ev = table(s, dir, "events")
    val counts = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    val total = ev.agg(count(lit(1)).as("__total"))
    counts.crossJoin(broadcast(total))
      .withColumn("share", round(col("n") / col("__total"), 6))
      .select(col("user_id"), col("n"), col("share"))
      .orderBy(col("n").desc, col("user_id").asc)
      .limit(10)
  }

  /** Sequence packing ([[Packing.packSequences]]): documents concatenated
    * per (language, shard) in doc_id order and cut into 2000-token blocks
    * — each doc labeled with the block its start offset falls in
    * (pretraining concat-and-cut semantics). The shard is a deterministic
    * hash bucket of doc_id ([[Dedup.hash60]], DuckDB-mirrored), so with
    * ~5 languages no single language serializes its whole doc stream
    * through one window task at 100× — parallelism is langs × shards, and
    * a real pipeline sizes the shard count to the cluster. One window sum
    * per (lang, shard) group. */
  private def qPackSequences(s: SparkSession, dir: String): DataFrame = {
    val docs = cpuTable(s, dir, "documents").select(
      col("doc_id"), col("lang"),
      TextAnalysis.wsTokenCount(col("text")).as("ws_tokens"),
      (Dedup.hash60(col("doc_id").cast("string")) % PackShards).as("shard"))
    graft.ops.Packing.packSequences(docs, Seq("lang", "shard"), Seq("doc_id"),
      col("ws_tokens"), budget = 2000)
  }

  /** Shard fan-out for [[qPackSequences]]'s packing window (langs ×
    * shards concurrent window tasks). */
  private val PackShards = 8

  /** Benchmark decontamination ([[Decontam.overlapProfile]]): per-doc
    * trigram overlap of the corpus (doc_id >= 10) against the benchmark
    * set (doc_id < 10) — the eval-leak test every training pipeline runs.
    * Benchmark shingle set broadcasts; the corpus shuffles only into the
    * per-doc count aggregate. */
  private def qDecontam(s: SparkSession, dir: String): DataFrame = {
    val docs = cpuTable(s, dir, "documents")
    graft.ops.Decontam.overlapProfile(
      docs.filter(col("doc_id") >= 10), docs.filter(col("doc_id") < 10),
      "doc_id", col("text"), n = 3)
  }

  /** Near-dup pairs → DEDUP GROUPS ([[Dedup.connectedComponents]]):
    * min-label propagation over the n-gram Jaccard pair list collapses
    * transitive matches (a≈b≈c) into one cluster per component; the
    * converged label is the canonical (minimum) doc id. */
  private def qNearDupClusters(s: SparkSession, dir: String): DataFrame = {
    val docs = cpuTable(s, dir, "documents")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", col("text"),
      n = 3, threshold = 0.5, maxDf = 100)
    Dedup.connectedComponents(pairs, docs.select(col("doc_id")), "doc_id")
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

  /** Repetition quality signals ([[Repetition.bigramProfile]]): the
    * Gopher-style duplicate-token fraction and most-frequent-bigram
    * character fraction per document — the filter signals that catch
    * boilerplate/keyword-stuffed documents that length/stopword stats
    * miss. Explode-once + two doc-keyed hash aggregates; the argmax is
    * a packed-string ObjectHashAggregate (no window sort, no
    * SortAggregate fallback), ties to the byte-wise largest bigram
    * (oracle mirrors the packing). */
  private def qRepetition(s: SparkSession, dir: String): DataFrame =
    graft.ops.Repetition.bigramProfile(
      cpuTable(s, dir, "documents"), "doc_id", "text", "n_chars")

  /** PII scrub ([[PiiScrub.report]]): email/IPv4 redaction counts plus
    * the redacted text's md5/length. The synthetic corpus contains no
    * PII by construction (verified: zero '@' or digit characters), so
    * the registered query grafts a DETERMINISTIC per-row contact tail
    * onto each document — a pure function of doc_id, replayed
    * identically by the oracle — to exercise match/redact/count
    * end-to-end on every row; the operator itself takes any text
    * column. One codegen regexp projection, no shuffle. */
  private def qPiiScrub(s: SparkSession, dir: String): DataFrame = {
    val aug = concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@ex"), (col("doc_id") % 10).cast("string"),
      lit(".org or 10."), (col("doc_id") % 256).cast("string"),
      lit(".0."), (col("doc_id") % 100).cast("string"))
    cpuTable(s, dir, "documents").select(
      col("doc_id") +:
        PiiScrub.report(aug).map { case (n, c) => c.as(n) }: _*)
  }

  /** Temperature resampling ([[Sampling.temperatureResample]]): flatten
    * the skewed language mix (en dominates ~3:1) toward uniform at
    * α = 0.5 — kept counts ∝ n_lang^0.5, smallest language kept whole,
    * membership a pure function of (seed, doc_id). Tiny count agg +
    * broadcast rate join + stateless hash filter. */
  private def qTemperatureResample(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.temperatureResample(
      table(s, dir, "documents").select(col("doc_id"), col("lang")),
      "lang", "doc_id", alpha = 0.5, seed = "t1")

  /** Token rarity ([[TextAnalysis.tokenRarity]]): the corpus as its own
    * language model — per-doc rare-token counts/fraction and mean
    * corpus token frequency, integer-exact instead of libm-dependent
    * log-probs. */
  private def qTokenRarity(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenRarity(cpuTable(s, dir, "documents"), "doc_id",
      col("text"), rareBelow = 3)

  /** Training-order shuffle ([[Sampling.shuffleShards]]): every doc
    * gets a deterministic (shard, shard_pos) address — curation order
    * broken by an id-hash permutation, reproducible across engines. */
  private def qShuffleShards(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.shuffleShards(
      table(s, dir, "documents").select(col("doc_id")),
      "doc_id", nShards = 8, seed = "sh1")

  /** Chunk-level exact dedup ([[Dedup.chunkDedup]]): duplicated
    * PASSAGES removed corpus-wide (first occurrence wins), documents
    * reassembled from their surviving 10-token chunks. */
  private def qChunkDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.chunkDedup(cpuTable(s, dir, "documents"), "doc_id", col("text"),
      chunkTokens = 10)

  /** Boilerplate-span removal ([[Dedup.boilerplateSpans]]): every
    * occurrence of any 3-token span appearing in ≥3 distinct documents
    * is dropped — the C4-style inverse of q56's keep-first chunk dedup
    * (first copies go too; infrequent duplicates stay). ~3% of span
    * occurrences in this corpus cross the bar, so the drop path is
    * exercised on real rows, not vacuously. */
  private def qBoilerplate(s: SparkSession, dir: String): DataFrame =
    Dedup.boilerplateSpans(cpuTable(s, dir, "documents"), "doc_id",
      col("text"), spanTokens = 3, minDocs = 3)

  /** Token-budget mixture ([[Sampling.mixtureByBudget]]): cap every
    * source's contribution at 800 tokens via the hash-bucket histogram
    * prefix — the absolute-cap half of data mixing next to q55's
    * relative temperature flattening. */
  private def qMixtureBudget(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.mixtureByBudget(
      table(s, dir, "documents").select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens")),
      "source", "doc_id", col("n_tokens"), budget = 800L, nBuckets = 1024,
      seed = "mix1")

  /** Int8 embedding quantization ([[Similarity.quantizeInt8]]),
    * projected to hash-stable facts per vector: dims, the 6-dp scale,
    * an md5 over the comma-joined quantized components (every element
    * participates in the hash), and their exact integer sum. */
  private def qQuantizeInt8(s: SparkSession, dir: String): DataFrame =
    Similarity.quantizeInt8(cpuTable(s, dir, "embeddings"), "embedding")
      .select(col("vec_id"),
        size(col("qvec")).cast("long").as("n_dims"),
        round(col("scale"), 6).as("scale6"),
        md5(array_join(transform(col("qvec"), x => x.cast("string")), ","))
          .as("q_md5"),
        aggregate(col("qvec"), lit(0L), (a, x) => a + x.cast("long"))
          .as("q_sum"))

  /** Incremental crawl-vs-corpus MinHash dedup
    * ([[Dedup.minhashMatchedAgainst]] + [[Dedup.dropNearDupsAgainst]]):
    * the standing corpus is the doc_id % 4 == 0 quarter, the incoming
    * batch the rest; incoming docs whose signature agreement with any
    * banded reference candidate reaches 0.5 are dropped. Output = the
    * surviving incoming docs. Same shingle/signature/band/cap constants
    * as q24, so the two share every oracle fragment. */
  private def qDedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = cpuTable(s, dir, "documents")
    // each signature table feeds banding AND the agreement join probe;
    // session-scoped like every operator cache (freed by clearCache)
    val incSigs = CacheScope.session.cache(
      Dedup.minHashSignatures(docs.filter(col("doc_id") % 4 =!= 0),
        "doc_id", col("text"), n = 3, k = 8))
    val refSigs = CacheScope.session.cache(
      Dedup.minHashSignatures(docs.filter(col("doc_id") % 4 === 0),
        "doc_id", col("text"), n = 3, k = 8))
    val matched = Dedup.minhashMatchedAgainst(incSigs, refSigs, "doc_id",
      k = 8, rowsPerBand = 4, threshold = 0.5, maxBucket = LshMaxBucket)
    Dedup.dropNearDupsAgainst(
      docs.filter(col("doc_id") % 4 =!= 0)
        .select(col("doc_id"), col("source"), col("n_chars")),
      "doc_id", matched)
  }

  /** Semantic (SemDeDup-style) dedup over embeddings
    * ([[Dedup.semanticDedup]]): sign-bucket cells, integer-exact int8
    * centroid, most-central representative, drop members at int8 cosine
    * ≥ 0.35 to it (the corpus's embeddings are near-orthogonal — within-
    * cell cosines top out ~0.43 — so a production-style 0.9 would make
    * the drop path vacuous; 0.35 exercises it on real rows). Output =
    * survivors with their cell, representative flag, and 6-dp cosine to
    * the representative. */
  private def qSemanticDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.semanticDedup(cpuTable(s, dir, "embeddings"), "vec_id",
      col("embedding"), signBits = 8, threshold = 0.35,
      maxBucket = LshMaxBucket, probes = SemProbes)

  /** Hashed linear quality score ([[TextAnalysis.hashedLinearScore]])
    * with the deterministic md5 stand-in model
    * ([[TextAnalysis.md5Weights]], dim 512, salt "w") over uni+bigram
    * features — integer-valued weights, so sums are exact. */
  private def qHashedScore(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.hashedLinearScore(cpuTable(s, dir, "documents"),
      "doc_id", col("text"), TextAnalysis.md5Weights(512, "w"))

  /** Embedding-side incremental dedup ([[Dedup.cosineMatchedAgainst]] +
    * [[Dedup.dropNearDupsAgainst]]): q63's crawl-vs-corpus shape over
    * vectors — the standing index is the vec_id % 4 == 0 quarter, the
    * incoming batch the rest; incoming vectors at exact 6-dp cosine
    * ≥ 0.3 to any same-cell reference vector are dropped (the corpus's
    * embeddings are near-orthogonal, so a production-style 0.9 would
    * make the drop path vacuous — 0.3 exercises it on real rows). Same
    * signBits/cap constants as q28, so the cell fragments mirror.
    * probes = 4: the standing index registers each vector under its
    * own cell + its 3 least-confident single-bit flips
    * ([[graft.ops.Similarity.probeCells]]), catching matches the
    * same-cell form misses (measured on this fixture at sf0.01:
    * 23 of 375 incoming matched at probes = 4 vs 11 at probes = 1 —
    * 2.1× the recall; the superset property is pinned in
    * `CurationOpsSpec`) while the incoming side still probes with
    * one equi-join key. */
  private def qCosineIncremental(s: SparkSession, dir: String): DataFrame = {
    val embs = cpuTable(s, dir, "embeddings")
    val matched = Dedup.cosineMatchedAgainst(
      embs.filter(col("vec_id") % 4 =!= 0),
      embs.filter(col("vec_id") % 4 === 0),
      "vec_id", col("embedding"), signBits = 8, threshold = 0.3,
      maxBucket = LshMaxBucket, probes = 4)
    Dedup.dropNearDupsAgainst(
      embs.filter(col("vec_id") % 4 =!= 0).select(col("vec_id"), col("label")),
      "vec_id", matched)
  }

  /** Per-language vocabulary top-K ([[TextAnalysis.vocabTopK]]): the 10
    * most frequent tokens per language via the bounded-heap grouped
    * top-k (k rows of state per group per task — never a per-group
    * window sort over the corpus), ties by the cross-engine md5 hash of
    * the token. */
  private def qVocabTopK(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.vocabTopK(cpuTable(s, dir, "documents"), "lang",
      col("text"), k = 10)

  /** Leakage-safe splits ([[Sampling.leakageSafeSplit]]): q44's
    * train/val/test assignment hashed on the NEAR-DUP CLUSTER (q47's
    * connected components over the n-gram Jaccard pairs) instead of the
    * doc id, so no near-duplicate pair ever straddles the train/test
    * fence. */
  private def qLeakageSplit(s: SparkSession, dir: String): DataFrame = {
    val docs = cpuTable(s, dir, "documents")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", col("text"),
      n = 3, threshold = 0.5, maxDf = 100)
    graft.ops.Sampling.leakageSafeSplit(docs.select(col("doc_id")), "doc_id",
      pairs, Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = "ls1")
  }

  /** Quality-filter funnel ([[graft.ops.Curation.filterFunnel]]):
    * four integer-exact rules in pipeline order, each document charged
    * to the FIRST rule it fails (null = kept). Mean-word-length and
    * digit-fraction bounds are cross-multiplied into integer
    * comparisons so no division noise crosses engines. */
  private def qFilterFunnel(s: SparkSession, dir: String): DataFrame = {
    val words = size(split(col("text"), " ")).cast("long")
    val uniq = size(array_distinct(split(col("text"), " "))).cast("long")
    // bounds tuned so every rule attributes real drops on the fixture
    // corpus (90/16/15/8 of 500 at sf0.01) — a funnel whose tail rules
    // never fire tests nothing
    graft.ops.Curation.filterFunnel(
      cpuTable(s, dir, "documents"), "doc_id", Seq(
        "min_chars" -> (col("n_chars") >= 150L),
        "min_words" -> (words >= 30L),
        // mean word length <= 5.8: n_chars*5 <= words*29, exact in longs
        "long_words" -> (col("n_chars") * 5L <= words * 29L),
        // distinct-token ratio >= 30%: Gopher-style repetition screen
        "low_diversity" -> (uniq * 10L >= words * 3L)))
      .select(col("doc_id"), col("first_failed"), col("kept"))
  }

  /** Keep-best near-dup dedup ([[Dedup.dropNearDupsKeeping]]): q47's
    * clusters, but the survivor is the LONGEST member (ties to lowest
    * id) instead of the min-id canonical — the quality-keeper rule. */
  private def qDedupKeepBest(s: SparkSession, dir: String): DataFrame = {
    val docs = cpuTable(s, dir, "documents")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", col("text"),
      n = 3, threshold = 0.5, maxDf = 100)
    Dedup.dropNearDupsKeeping(
      docs.select(col("doc_id"), col("lang"), col("n_chars")),
      "doc_id", pairs, "n_chars")
  }

  /** Per-source cap ([[graft.ops.Sampling.capPerGroup]]): at most 20
    * docs per source by the salted 52-bit hash rank — the
    * domain-diversity guard, exactly-n and deterministic. */
  private def qCapPerSource(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.capPerGroup(
      table(s, dir, "documents").select(col("doc_id"), col("source")),
      "source", "doc_id", n = 20, seed = "cap1")

  /** Gap sessionization ([[graft.ops.Events.sessionize]]): user events
    * split into visits at >8h silences (the fixture's median
    * within-user gap is ~7.3h, so both the same-session and new-session
    * paths carry real rows). Order = (µs timestamp, event_id), the q48
    * convention. */
  private def qSessionize(s: SparkSession, dir: String): DataFrame =
    graft.ops.Events.sessionize(
      eventsDf(s, dir).select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us")),
      "user_id", "ts_us", "event_id", gapUs = 8L * 3600L * 1000000L)

  /** Conversion funnel ([[graft.ops.Events.funnel]]):
    * view → click → purchase with strictly-increasing timestamps,
    * earliest-feasible matching — per-user chain times and the step
    * count reached. */
  private def qEventFunnel(s: SparkSession, dir: String): DataFrame =
    graft.ops.Events.funnel(
      eventsDf(s, dir).select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us")),
      "user_id", "event_type", "ts_us", Seq("view", "click", "purchase"))

  /** Trailing 24h per-event window ([[graft.ops.Events.trailingWindow]]):
    * every event's same-user activity count and spend over the closed
    * [ts−24h, ts] interval. Values as integer cents (q36's convention)
    * so the rolling sum is exact on both engines. */
  private def qTrailingWindow(s: SparkSession, dir: String): DataFrame =
    graft.ops.Events.trailingWindow(
      eventsDf(s, dir).select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        round(col("value") * 100).cast("long").as("cents")),
      "user_id", "ts_us", "cents", windowUs = 24L * 3600L * 1000000L)

  /** Overlapping chunk windows ([[TextAnalysis.chunkWindows]]): 32-token
    * windows at stride 24 (25% overlap) — the RAG/long-doc split. */
  private def qChunkWindows(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.chunkWindows(cpuTable(s, dir, "documents"), "doc_id",
      col("text"), chunkTokens = 32, strideTokens = 24)

  /** Integer-exact per-label centroids
    * ([[Similarity.centroidByGroup]]), projected to hash-stable facts
    * (q61's convention): the md5 over comma-joined component sums plus
    * their exact total. */
  private def qCentroids(s: SparkSession, dir: String): DataFrame =
    Similarity.centroidByGroup(cpuTable(s, dir, "embeddings"), "label",
      "embedding")
      .select(col("label"), col("n_vecs"), col("n_null"),
        md5(array_join(transform(col("centroid_sum"),
          x => x.cast("string")), ",")).as("c_md5"),
        aggregate(col("centroid_sum"), lit(0L), (a, x) => a + x).as("c_sum"))

  /** q63's incremental dedup through the STREAM-SAFE chained-anti-join
    * form ([[Dedup.dropNearDupsAgainstLive]]) on the same data split
    * and constants — registered against its OWN oracle, which differs
    * from q63's in exactly the live contract: the incoming side carries
    * no occupancy cap (a stream has no global bucket counts), only the
    * static reference side does. The live congruity test runs the same
    * plan on a MemoryStream with zero state operators. */
  private def qDedupIngest(s: SparkSession, dir: String): DataFrame = {
    val docs = cpuTable(s, dir, "documents")
    val refSigs = CacheScope.session.cache(
      Dedup.minHashSignatures(docs.filter(col("doc_id") % 4 === 0),
        "doc_id", col("text"), n = 3, k = 8))
    Dedup.dropNearDupsAgainstLive(
      docs.filter(col("doc_id") % 4 =!= 0)
        .select(col("doc_id"), col("source"), col("n_chars"), col("text")),
      refSigs, "doc_id", col("text"), n = 3, k = 8, rowsPerBand = 4,
      threshold = 0.5, maxBucket = LshMaxBucket)
      .select(col("doc_id"), col("source"), col("n_chars"))
  }

  /** q66's embedding-side incremental dedup through the STREAM-SAFE
    * single-anti-join form ([[Dedup.cosineDropAgainstLive]]): same data
    * split, sign bits, threshold, static-side cap, and probes = 4
    * multi-probe registration; the one contract difference (the stream
    * side cannot be occupancy-capped) is reflected in this query's own
    * oracle — the incoming side carries no QUALIFY cap. */
  private def qCosineIngest(s: SparkSession, dir: String): DataFrame = {
    val embs = cpuTable(s, dir, "embeddings")
    Dedup.cosineDropAgainstLive(
      embs.filter(col("vec_id") % 4 =!= 0).select(col("vec_id"), col("label"),
        col("embedding")),
      embs.filter(col("vec_id") % 4 === 0),
      "vec_id", col("embedding"), signBits = 8, threshold = 0.3,
      maxBucket = LshMaxBucket, probes = 4)
      .select(col("vec_id"), col("label"))
  }

  /** Per-group z-score outliers ([[graft.ops.Stats.outliersByGroup]]):
    * events whose whole-unit value sits more than 3 population-σ from
    * their event type's mean, decided by the integer cross-multiplied
    * inequality (no float moment ever computed) — the value
    * distribution is exponential-ish (σ ≈ μ ≈ 50, max ≈ 8σ), so the
    * 3σ tail flags real rows. */
  private def qOutliers(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.outliersByGroup(
      eventsDf(s, dir).select(col("event_id"), col("event_type"),
        round(col("value")).cast("long").as("units")),
      "event_type", "units", zNum = 3L)

  /** Per-language length quartiles ([[graft.ops.Stats.quantileBuckets]]):
    * every document's quartile within its OWN language's n_chars
    * distribution — boundary table + broadcast join, never a per-group
    * corpus sort. At sf0.01 every language group is far below the
    * 10000 accuracy, so boundaries are exact order statistics and
    * DuckDB's quantile_disc mirrors them (the q45 argument). */
  private def qQuantileBuckets(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.quantileBuckets(
      table(s, dir, "documents").select(col("doc_id"), col("lang"),
        col("n_chars")),
      "lang", "n_chars", Seq(0.25, 0.5, 0.75))

  /** BM25 top-k retrieval ([[graft.ops.Retrieval.bm25TopK]]): the 10
    * best corpus documents per query under rational-IDF BM25 (the log's
    * argument as the term weight — IEEE-exact cross-engine where `ln`
    * is libm-dependent). Queries = the first 6 tokens of docs 0-4, so
    * each query's own document is a natural top hit and the seed-mining
    * use ("find documents like these") is exercised as-is. */
  private def qBm25TopK(s: SparkSession, dir: String): DataFrame = {
    val docs = cpuTable(s, dir, "documents")
    val queries = docs.filter(col("doc_id") < 5)
      .select(col("doc_id").as("query_id"),
        array_join(slice(split(col("text"), " "), 1, 6), " ").as("qtext"))
    graft.ops.Retrieval.bm25TopK(docs, "doc_id", col("text"),
      queries, "query_id", col("qtext"), k = 10)
  }

  /** Winnowed-fingerprint overlap pairs
    * ([[graft.ops.Dedup.winnowedOverlapPairs]]): MOSS-style shared-span
    * detection — any common run of k+w−1 = 7 words is guaranteed a
    * shared fingerprint while the index holds only ~2/(w+1) of the
    * grams; pairs sharing ≥ 2 fingerprints, containment-normalized. */
  private def qWinnowPairs(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.winnowedOverlapPairs(cpuTable(s, dir, "documents"),
      "doc_id", col("text"), k = 4, w = 4, minShared = 2, maxDf = 100)

  /** Corpus collocations ([[graft.ops.TextAnalysis.cooccurTopK]]): the
    * 20 most frequent within-3-positions token pairs with their
    * rational-PMI association ratio — count-ranked with PMI attached
    * (PMI-first ranking surfaces minCount-boundary hapax pairs, the
    * classic artifact). */
  private def qCooccurTopK(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.cooccurTopK(cpuTable(s, dir, "documents"), col("text"),
      window = 3, k = 20, minCount = 5)

  /** Per-type value drift ([[graft.ops.Stats.driftByGroup]]): OLS slope
    * and signed r² of integer units against the epoch-day index, from
    * exact DECIMAL(38,0) moments — distribution-shift monitoring with
    * engine-identical numbers. */
  private def qDrift(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.driftByGroup(
      eventsDf(s, dir).select(col("event_type"),
        floor(unix_micros(col("ts")) / 86400000000L).cast("long")
          .as("day_idx"),
        round(col("value")).cast("long").as("units")),
      "event_type", "day_idx", "units")

  /** Attribution matrix ([[graft.ops.Events.attribution]]): per-user
    * first/last event type by (ts, event_id), cross-tabulated — one
    * argmin/argmax hash aggregate, no per-user window sort. */
  private def qAttribution(s: SparkSession, dir: String): DataFrame =
    graft.ops.Events.attribution(
      eventsDf(s, dir).select(col("event_id"), col("user_id"),
        col("event_type"), unix_micros(col("ts")).as("ts_us")),
      "user_id", "event_type", "ts_us", "event_id")

  /** Winsorized length stats ([[graft.ops.Stats.winsorizedMean]]):
    * per-language mean n_chars with values clamped to the language's
    * own [p05, p95] — tail-robust monitoring next to q81's quartiles. */
  private def qWinsorized(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.winsorizedMean(
      table(s, dir, "documents").select(col("lang"), col("n_chars")),
      "lang", "n_chars", lo = 0.05, hi = 0.95)

  /** Constraint report ([[graft.ops.Quality.check]]): the pre-training
    * validation gate in one aggregation job — exact integer metrics
    * (the uniqueness check is exact, not sketched). The in_range rule
    * is deliberately tighter than the data so the report exercises a
    * failing row. */
  private def qQualityCheck(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Quality._
    check(
      eventsDf(s, dir).select(col("event_id"), col("user_id"),
        col("event_type"), round(col("value")).cast("long").as("units")),
      Seq(NotNull("user_id"), Unique("event_id"),
        InRange("units", 0L, 100L),
        InSet("event_type",
          Seq("view", "click", "purchase", "signup", "error"))))
  }

  /** Directional as-of joins ([[graft.ops.Joins.asOfForward]] /
    * [[graft.ops.Joins.asOfNearest]]): q10's purchase→signup
    * enrichment with the pandas merge_asof forward / nearest
    * directions — next-signup-after and closest-signup-either-way
    * (exact-ts and equidistant ties resolve backward). */
  private def qAsOfDir(s: SparkSession, dir: String, nearest: Boolean): DataFrame = {
    val ev = eventsDf(s, dir)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("value").as("purchase_val"), col("ts"))
    val sg = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("value").as("sv"), col("ts"))
    val j = if (nearest)
      graft.ops.Joins.asOfNearest(p, sg, "user_id", "user_id", "ts", "ts",
        "sv", "signup_val", inner = false)
    else
      graft.ops.Joins.asOfForward(p, sg, "user_id", "user_id", "ts", "ts",
        "sv", "signup_val", inner = false)
    j.select(col("user_id"), col("purchase_val"), col("signup_val"),
      unix_micros(col("ts")).as("ts_us"))
  }

  /** End-to-end curation pipeline — five operators COMPOSED into the
    * mix-assembly job a corpus team actually ships, as one lazy plan:
    * integer-exact quality gate → normalized exact dedup
    * ([[graft.ops.Dedup.dropNormalizedDups]]) → transitive near-dup
    * drop (q23's pairs through q47's clusters) → per-source cap
    * ([[graft.ops.Sampling.capPerGroup]]) → hash split, train slice.
    * Each stage is a semi-join or projection over the previous
    * survivors, so Catalyst fuses the chain — no materialization
    * between stages; every stage's parameters mirror its standalone
    * oracle-gated query. */
  private def qCurationE2E(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.{Dedup, Sampling}
    val docs = cpuTable(s, dir, "documents")
    val gated = docs.filter(col("n_chars") >= 100L && col("n_chars") <= 5000L)
    val d1 = Dedup.dropNormalizedDups(gated, "doc_id", col("text"))
    val pairs = Dedup.ngramJaccardPairs(d1, "doc_id", col("text"),
      n = 3, threshold = 0.5, maxDf = 100)
    val d2 = Dedup.dropNearDups(d1, "doc_id", pairs)
    val capped = Sampling.capPerGroup(d2, "source", "doc_id",
      n = 40, seed = "cur1")
    Sampling.hashSplit(capped, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = "cur1")
      .filter(col("split") === "train")
      .select(col("doc_id"), col("lang"), col("source"))
  }

  /** q170: the curation pipeline WITH span-cut composed in (r18,
    * verdict task 4 — the r16 criterion asked for q164's survivors to
    * CHAIN into downstream text operators, not just be
    * shape-compatible): gate → [[graft.ops.Dedup.spanCutDedup]] (keep
    * docs with ≥ 5 surviving tokens, downstream stages consume the
    * REASSEMBLED `dedup_text`) → n-gram-Jaccard near-dup drop OVER THE
    * REASSEMBLED TEXT (cutting shared spans first means near-dup
    * clustering sees each duplicated run once — the Lee-et-al ordering)
    * → per-source cap → hash split, emitting the train split with each
    * survivor's kept-token count. The oracle chains the q164 span-cut
    * CTEs into the q91 near-dup/cap/split tail verbatim, so every
    * stage boundary is hash-pinned. */
  private def qCurationSpan(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.{Dedup, Sampling}
    val docs = cpuTable(s, dir, "documents")
    val gated = docs.filter(col("n_chars") >= 100L && col("n_chars") <= 5000L)
    val cut = Dedup.spanCutDedup(gated, "doc_id", col("text"),
      n = 8, minDocs = 2)
    // the span-cut subtree (two aggregation stages + reassembly) fans
    // out to FOUR consumers below (both sides of the near-dup pair
    // join, the survivor semi-join, the final projection) — cache the
    // survivors once or the whole cut re-executes per consumer
    // (measured: 18 s uncached vs the cached form; the q91 stages are
    // narrow projections that never needed this).
    // Staleness contract (r18 ADVICE): this is a PLAN-KEYED Spark
    // persist with no corpus fingerprint — unlike the model memos it
    // cannot go silently WRONG across reruns (same plan + same files →
    // same rows), but a harness that REGENERATES the fixture under the
    // same dir mid-JVM would read the stale blocks until clearCache.
    // The registered harnesses are safe by construction (Verify is
    // one-pass; Bench clears the cache between queries); a long-lived
    // driver re-running this query over mutating data must
    // clearCache() on data change or run it under CacheScope.using.
    val surv = CacheScope.session.cache(cut.filter(col("n_tokens_kept") >= 5L)
      .join(gated.select(col("doc_id"), col("lang"), col("source")), "doc_id"))
    val pairs = Dedup.ngramJaccardPairs(surv, "doc_id", col("dedup_text"),
      n = 3, threshold = 0.5, maxDf = 100)
    val d2 = Dedup.dropNearDups(surv, "doc_id", pairs)
    val capped = Sampling.capPerGroup(d2, "source", "doc_id",
      n = 40, seed = "cur2")
    Sampling.hashSplit(capped, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = "cur2")
      .filter(col("split") === "train")
      .select(col("doc_id"), col("lang"), col("source"),
        col("n_tokens_kept"))
  }

  /** JL random projection ([[graft.ops.Similarity.randomProjectInt8]]):
    * 64 → 16 dims over int8-quantized vectors with a deterministic ±1
    * matrix — exact integer components, q80-style hash-stable facts. */
  private def qRandomProject(s: SparkSession, dir: String): DataFrame =
    graft.ops.Similarity.randomProjectInt8(
      cpuTable(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
      "embedding", dim = 64, outDim = 16, seed = "jl1")
      .select(col("vec_id"),
        md5(array_join(transform(col("proj"), _.cast("string")), ","))
          .as("p_md5"),
        aggregate(col("proj"), lit(0L), _ + _).as("p_sum"))

  /** Concurrency gauge ([[graft.ops.Events.concurrency]]): peak
    * simultaneously-active user lifetimes ([first event, last event]
    * per user) per day — the bucketed sweep line, never a global
    * single-partition sort over endpoints. */
  private def qConcurrency(s: SparkSession, dir: String): DataFrame = {
    val spans = eventsDf(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .groupBy(col("user_id"))
      .agg(min(col("ts_us")).as("s_us"), max(col("ts_us")).as("e_us"))
    graft.ops.Events.concurrency(spans, "s_us", "e_us",
      bucketUs = 86400000000L)
  }

  /** Snapshot diff ([[graft.ops.Dedup.snapshotDiff]]): two simulated
    * drops of the documents corpus (old = ids ∌ 7·k, new = ids ∌ 5·k,
    * with every 11th new doc's text perturbed) → delta-sized
    * added/removed/changed report. */
  private def qSnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val docs = cpuTable(s, dir, "documents")
    val oldSnap = docs.filter(col("doc_id") % 7 =!= 0)
    val newSnap = docs.filter(col("doc_id") % 5 =!= 0)
      .withColumn("text", when(col("doc_id") % 11 === 0,
        concat(col("text"), lit(" rev2"))).otherwise(col("text")))
    graft.ops.Dedup.snapshotDiff(oldSnap, newSnap, "doc_id", col("text"))
  }

  /** Daily retention triangle ([[graft.ops.Events.retentionCohorts]]):
    * cohort = epoch-day of first event, cells = distinct active users
    * per (cohort, offset) — daily grain populates 59 cells across two
    * cohorts on the fixture (weekly collapses it to one cohort). */
  private def qRetentionCohorts(s: SparkSession, dir: String): DataFrame =
    graft.ops.Events.retentionCohorts(
      eventsDf(s, dir).select(col("user_id"),
        unix_micros(col("ts")).as("ts_us")),
      "user_id", "ts_us", bucketUs = 86400000000L)

  /** Hashed-gram LM buckets — small enough that the model rides in the
    * task binary as a literal array, large enough that sf-scale gram
    * collisions stay rare. */
  private val LmBuckets = 4096

  /** Hashed n-gram LM quality score ([[TextAnalysis.hashedGramCounts]] +
    * [[TextAnalysis.hashedGramScore]]) — the CCNet/KenLM pipeline stage:
    * train add-one-smoothed gram log-probs on a 10% reference slice
    * (doc_id ≡ 0 mod 10), score the other 90% by mean log-prob per
    * gram. Training is one BUCKETS-sized aggregate; scoring is a pure
    * narrow projection (the term table is a literal), zero shuffle. */
  private def qLmScore(s: SparkSession, dir: String): DataFrame = {
    val docs = cpuTable(s, dir, "documents")
    val (counts, total) = graft.ops.TextAnalysis.hashedGramCounts(
      docs.filter(col("doc_id") % 10 === 0), col("text"), LmBuckets)
    graft.ops.TextAnalysis.hashedGramScore(
      docs.filter(col("doc_id") % 10 =!= 0), "doc_id", col("text"),
      graft.ops.TextAnalysis.lmTermMicros(counts, total))
  }

  /** DSIR-style importance weights (Xie et al. 2023's hashed-n-gram
    * form): per-doc weight = mean over grams of
    * (log p_target − log p_background), with target = English docs and
    * background = the rest. The two LMs train as two bucket-sized
    * aggregates; their term-table DIFFERENCE folds in one narrow
    * scoring projection — at 100 TB the selection score is computed in
    * the scan, and sampling by weight composes with q55/q60. */
  private def qDsirWeights(s: SparkSession, dir: String): DataFrame = {
    val docs = cpuTable(s, dir, "documents")
    val ta = graft.ops.TextAnalysis
    val (tc, tt) = ta.hashedGramCounts(
      docs.filter(col("lang") === "en"), col("text"), LmBuckets)
    val (bc, bt) = ta.hashedGramCounts(
      docs.filter(col("lang") =!= "en"), col("text"), LmBuckets)
    val diff = ta.lmTermMicros(tc, tt).lazyZip(ta.lmTermMicros(bc, bt))
      .map(_ - _).toArray
    ta.hashedGramScore(docs, "doc_id", col("text"), diff)
      .select(col("doc_id"), col("n_grams"),
        col("score_micro").as("w_micro"), col("mean_score").as("mean_w"))
  }

  /** Per-source dataset card ([[graft.ops.Stats.groupCard]]): doc
    * count, exact char total, language count, and the Shannon entropy
    * of each source's language mix in exact micro-nats — the corpus
    * report a curation pipeline publishes alongside its output. */
  private def qSourceCard(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.groupCard(cpuTable(s, dir, "documents"),
      "source", "lang", "n_chars")

  /** One k-means Lloyd iteration ([[Similarity.kmeansStepInt8]]) over
    * the embedding corpus, seeded with the q37 IVF centroids (the 8
    * lowest-id vectors, a driver-side 8-row model fetch): assignment is
    * the narrow codegen cosine chain, the new centroids integer-exact
    * int8 sums, projected to the q61/q80 hash-stable facts. */
  private def qKmeansStep(s: SparkSession, dir: String): DataFrame = {
    val raw = table(s, dir, "embeddings")
    Similarity.kmeansStepInt8(
      graft.sources.Sources.scatter(raw).select(col("vec_id"), col("embedding")),
      "embedding", seedCentroids(raw))
      .select(col("cluster").cast("long").as("cluster"), col("n_vecs"),
        md5(array_join(transform(col("centroid_sum"), _.cast("string")), ","))
          .as("c_md5"),
        aggregate(col("centroid_sum"), lit(0L), _ + _).as("c_sum"))
  }

  /** Markov transition matrix ([[graft.ops.Events.transitionCounts]]):
    * consecutive event-type pairs per user in (ts, event_id) order,
    * with each edge's share of its source type's out-degree. */
  private def qTransitions(s: SparkSession, dir: String): DataFrame =
    graft.ops.Events.transitionCounts(
      eventsDf(s, dir).select(col("event_id"), col("user_id"),
        col("event_type"), unix_micros(col("ts")).as("ts_us")),
      "user_id", "event_type", "ts_us", "event_id")

  /** Dedup threshold sweep ([[Dedup.thresholdSweep]]): the q23 n-gram
    * Jaccard pairs at a low 0.1 floor, binned into 20 similarity
    * buckets with the descending cumulative pair count — the
    * calibration curve behind choosing the production 0.5. */
  private def qThresholdSweep(s: SparkSession, dir: String): DataFrame =
    Dedup.thresholdSweep(
      Dedup.ngramJaccardPairs(cpuTable(s, dir, "documents"), "doc_id",
        col("text"), n = 3, threshold = 0.1, maxDf = 100),
      "jaccard", bins = 20)

  /** BPE pair statistics ([[TextAnalysis.bpePairCounts]]): top-20
    * adjacent character pairs inside words, weighted by word frequency
    * — the counting pass a tokenizer trainer iterates. */
  private def qBpePairs(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bpePairCounts(cpuTable(s, dir, "documents"),
      col("text"), k = 20)

  /** Per-user activity profile ([[graft.ops.Events.activityProfile]]):
    * the five event types pivoted to count columns + total — one hash
    * aggregate on the user key. */
  private def qActivityProfile(s: SparkSession, dir: String): DataFrame =
    graft.ops.Events.activityProfile(
      eventsDf(s, dir).select(col("user_id"), col("event_type")),
      "user_id", "event_type",
      Seq("click", "error", "purchase", "signup", "view"))

  /** Weighted per-group cap ([[Sampling.capPerGroupWeighted]]): at most
    * 15 docs per source (the fixture carries 25/source at sf0.01, so
    * the cap genuinely binds) by n_chars-weighted deterministic
    * priority sampling — longer docs proportionally likelier to
    * survive, still exactly-n and hash-stable. */
  private def qWeightedCap(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.capPerGroupWeighted(
      cpuTable(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars")),
      "source", "doc_id", col("n_chars"), n = 15, seed = "wc1")

  /** Keyword extraction ([[TextAnalysis.keywordsTopK]]): top-3 tokens
    * per document by rational tf-idf (`tf·N/df`), ties by token hash. */
  private def qKeywords(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.keywordsTopK(cpuTable(s, dir, "documents"), "doc_id",
      col("text"), k = 3)

  /** Script mix ([[TextAnalysis.scriptMix]]): per-doc Latin/digit/
    * whitespace/CJK/other code-point fractions — one narrow projection. */
  private def qScriptMix(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.scriptMix(cpuTable(s, dir, "documents"), "doc_id",
      col("text"))

  /** Hard-negative mining ([[graft.ops.Similarity.hardNegatives]]):
    * for every embedding, its 3 most-similar DIFFERENT-label vectors
    * via q46's multi-probe machinery — contrastive training pairs. */
  private def qHardNegatives(s: SparkSession, dir: String): DataFrame =
    graft.ops.Similarity.hardNegatives(cpuTable(s, dir, "embeddings"),
      "vec_id", "embedding", "label", k = 3, signBits = 8,
      probeHamming = 1, maxBucketOccupancy = LshMaxBucket)

  /** Time-decayed activity score ([[graft.ops.Events.decayedScore]]):
    * per-user engagement with a 1-day half-life anchored at the
    * corpus's max ts — every arithmetic step cross-engine exact. */
  private def qDecayedScore(s: SparkSession, dir: String): DataFrame =
    graft.ops.Events.decayedScore(
      eventsDf(s, dir).select(col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("value")),
      "user_id", "ts_us", "value", bucketUs = 86400000000L)

  /** End-to-end EMBEDDING pipeline — the vector stack's q91: three
    * oracle-gated operators COMPOSED into one lazy plan. Semantic
    * dedup (q64's constants) picks the survivors; labels are masked
    * off two-thirds of them and label propagation (q106's constants,
    * run WITHIN the survivor set) fills them back; the final labeled
    * corpus summarizes per label with membership-sensitive facts
    * (count + id-sum — any survivor-set or vote flip moves the hash).
    * Unlabeled survivors whose probed cells hold no labeled neighbor
    * drop out, exactly as q106 documents. */
  private def qEmbeddingE2E(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.{Dedup, Similarity}
    // ONE cached narrow projection of the corpus feeds both operator
    // subtrees: semanticDedup's internal quantize pass and the masked
    // label join below each consumed their own parquet scan + scatter
    // exchange of the embeddings — at 100 TB that is the whole corpus
    // read twice for one query (guide §6 / §2.4). The cache holds only
    // the three columns the composition touches.
    val embs = graft.ops.CacheScope.session.cache(
      cpuTable(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"), col("label")))
    val surv = Dedup.semanticDedup(embs, "vec_id", col("embedding"),
      signBits = 8, threshold = 0.35, maxBucket = LshMaxBucket,
      probes = SemProbes)
      .select(col("vec_id"))
    // labelPropagate consumes its input THREE times (labeled side,
    // probe side, vote join-back); without this cache the whole
    // semantic-dedup subtree recomputes per consumer — measured 8.3 s
    // -> 5.0 s at sf0.1 (3-rep min, same box)
    val masked = graft.ops.CacheScope.session.cache(
      embs.join(surv, Seq("vec_id"), "left_semi")
        .withColumn("lbl", when(col("vec_id") % 3 === 0, col("label"))))
    val predicted = Similarity.labelPropagate(masked, "vec_id",
      "embedding", "lbl", k = 5, signBits = 8, probeHamming = 1,
      maxBucketOccupancy = LshMaxBucket)
      .select(col("vec_id"), col("lbl"))
    masked.filter(col("lbl").isNotNull).select(col("vec_id"), col("lbl"))
      .unionByName(predicted)
      .groupBy(col("lbl").as("label"))
      .agg(count(lit(1)).as("n_members"), sum(col("vec_id")).as("sum_ids"))
  }

  /** Referential-integrity audit ([[graft.ops.Quality
    * .referentialIntegrity]]) over the relational tables: orders →
    * customer (with every 13th custkey negated, the q94-style
    * synthetic drift, so the audit genuinely fires) and lineitem →
    * orders (clean by construction — the passing row is the control). */
  private def qFkAudit(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Quality
    val badOrders = table(s, dir, "orders").withColumn("o_custkey",
      when(col("o_orderkey") % 13 === 0, -col("o_custkey"))
        .otherwise(col("o_custkey")))
    Quality.referentialIntegrity("orders->customer", badOrders,
      "o_custkey", table(s, dir, "customer"), "c_custkey")
      .unionByName(Quality.referentialIntegrity("lineitem->orders",
        table(s, dir, "lineitem"), "l_orderkey",
        table(s, dir, "orders"), "o_orderkey"))
  }

  /** Daily trending ([[graft.ops.Rank.topNPerGroup]] over per-day type
    * counts): each day's top-3 event types by volume, ties by the
    * cross-engine type hash — the bounded heap, never a per-day sort
    * over events. */
  private def qDailyTrending(s: SparkSession, dir: String): DataFrame = {
    val daily = eventsDf(s, dir)
      .select(expr("unix_micros(ts) div 86400000000").as("day"),
        col("event_type"))
      .groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("__tid", Dedup.hash60(col("event_type")))
    graft.ops.Rank.topNPerGroup(daily, Seq("day"), "__tid", "n", n = 3)
      .join(daily.select(col("day"), col("event_type"),
        col("__tid").as("id")), Seq("day", "id"))
      .select(col("day"), col("event_type"),
        col("score").cast("long").as("n"), col("rank"))
  }

  /** Re-crawl repeat suppression ([[Dedup.dropRepeatsWithin]]): events
    * of one user within a trailing 1-hour quiet horizon collapse to
    * the burst's first row; a sighting after a full quiet hour starts
    * a fresh burst and survives. */
  private def qRepeatSuppression(s: SparkSession, dir: String): DataFrame =
    Dedup.dropRepeatsWithin(
      eventsDf(s, dir).select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us")),
      "user_id", "ts_us", "event_id", horizonUs = 3600000000L)

  /** Token-budget best-first fill ([[graft.ops.Sampling.budgetFill]]):
    * each source's 5k-char budget filled by its longest documents
    * (per-source totals run ~8.5k at sf0.01, so the budget genuinely
    * binds)
    * first (score = cost = n_chars, the simplest quality proxy) —
    * greedy-prefix knapsack, one window pass. */
  private def qBudgetFill(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.budgetFill(
      cpuTable(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars")),
      "source", "doc_id", "n_chars", "n_chars", budget = 5000L)

  /** Daily volume spikes ([[graft.ops.Stats.outliersByGroup]] COMPOSED
    * over per-(type, day) event counts): days whose count sits more
    * than 2 population-σ from their type's daily mean — time-series
    * spike detection in the same integer cross-multiplied moment space
    * as q76, run on the aggregate instead of the rows. */
  private def qDailySpikes(s: SparkSession, dir: String): DataFrame = {
    val daily = eventsDf(s, dir)
      .select(col("event_type"), // exact integer day index (div == //)
        expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n_day"))
    graft.ops.Stats.outliersByGroup(daily, "event_type", "n_day",
      zNum = 2, zDen = 1)
      .select(col("event_type"), col("day"), col("n_day"),
        col("n_group"), col("is_outlier"))
  }

  /** User lifecycle classification: first/last event per user against
    * the corpus end — new (first seen < 29 days ago), churned (silent
    * ≥ 1 day), active otherwise; thresholds scaled to the fixture's
    * 30-day span so all three branches genuinely fire (the production
    * analogues are 7/14 against months of history). One user-keyed
    * aggregate + a broadcast 1-row corpus max; day arithmetic in
    * exact integer µs. */
  private def qUserLifecycle(s: SparkSession, dir: String): DataFrame = {
    val day = 86400000000L
    val spans = eventsDf(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .groupBy(col("user_id"))
      .agg(min(col("ts_us")).as("first_us"), max(col("ts_us")).as("last_us"))
    spans.crossJoin(broadcast(
        spans.agg(max(col("last_us")).as("__asof"))))
      .select(col("user_id"),
        floor((col("__asof") - col("first_us")) / day).as("days_known"),
        floor((col("__asof") - col("last_us")) / day).as("days_silent"))
      .withColumn("status",
        when(col("days_known") < 29, "new")
          .when(col("days_silent") >= 1, "churned")
          .otherwise("active"))
  }

  /** SCD-type-2 compaction ([[graft.ops.Keyed.scd2History]]): each
    * user's event_type as a tracked dimension attribute — consecutive
    * same-type events compact into one version with [from, to)
    * validity. */
  private def qScd2(s: SparkSession, dir: String): DataFrame =
    graft.ops.Keyed.scd2History(
      eventsDf(s, dir).select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"), col("event_id")),
      Seq("user_id"), "ts_us", Seq("event_type"), "event_id")

  /** Top session journeys ([[graft.ops.Events.topJourneys]]): q72's
    * sessions (30-minute gap) reduced to their first-5-step event-type
    * paths, top-10 corpus-wide. */
  private def qTopJourneys(s: SparkSession, dir: String): DataFrame = {
    val sess = graft.ops.Events.sessionize(
      eventsDf(s, dir).select(col("event_id"), col("user_id"),
        col("event_type"), unix_micros(col("ts")).as("ts_us")),
      "user_id", "ts_us", "event_id", gapUs = 1800000000L)
    graft.ops.Events.topJourneys(sess, Seq("user_id", "session_id"),
      "event_type", "ts_us", "event_id", maxSteps = 5, k = 10)
  }

  /** kNN-graph PageRank ([[graft.ops.Centrality.pageRankInt]]): q46's
    * k=3 neighbor edges, two fixed-point integer rounds — central
    * (often-neighbored) vectors score high; the data-selection signal
    * beyond q47's membership-only clusters. */
  private def qKnnPageRank(s: SparkSession, dir: String): DataFrame = {
    // one cached narrow scan: knnJoin reads its input twice (item side +
    // probe side) and the node list is a third read — without the cache
    // that is three parquet scans + scatter exchanges of the corpus per
    // run (guide §2.4/§6; same shape as q118's shared base)
    val embs = graft.ops.CacheScope.session.cache(
      cpuTable(s, dir, "embeddings").select(col("vec_id"), col("embedding")))
    val edges = graft.ops.Similarity.knnJoin(embs, "vec_id", "embedding",
      k = 3, signBits = AnnBits, probeHamming = AnnHamming,
      maxBucketOccupancy = LshMaxBucket)
      .select(col("qid").as("src"), col("id").as("dst"))
    graft.ops.Centrality.pageRankInt(edges, embs.select(col("vec_id")),
      "vec_id", iters = 2, dampBp = 8500)
  }

  /** Messy-ingest quarantine ([[graft.sources.Sources
    * .parseJsonQuarantine]]): documents serialized to JSON payloads
    * with every 13th truncated (malformed), parsed back under the
    * PERMISSIVE + corrupt-column policy, reported per parsed lang
    * (corrupt rows land in the NULL-lang bucket). The payload string
    * is hand-concatenated so both engines corrupt the identical
    * bytes. */
  private def qJsonIngest(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val js = concat(lit("{\"doc_id\":"), col("doc_id"),
      lit(",\"lang\":\""), col("lang"), lit("\",\"n_chars\":"),
      col("n_chars"), lit("}"))
    val withJs = cpuTable(s, dir, "documents")
      .withColumn("__js", js)
      .select(col("doc_id").as("src_id"),
        when(col("doc_id") % 13 === 0,
          expr("substring(__js, 1, length(__js) - 3)"))
          .otherwise(col("__js")).as("payload"))
    graft.sources.Sources.parseJsonQuarantine(withJs, col("payload"),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("lang", StringType), StructField("n_chars", LongType))))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("is_corrupt"), 1L).otherwise(0L)).as("n_corrupt"),
        sum(col("n_chars")).as("sum_chars"))
  }

  /** Exact-n global sample ([[graft.ops.Sampling.sampleExactN]]): carve
    * exactly 100 docs corpus-wide by the n smallest salted hashes —
    * the global bounded heap, no sort. */
  private def qExactSample(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.sampleExactN(
      cpuTable(s, dir, "documents").select(col("doc_id"), col("source")),
      "doc_id", n = 100, seed = "xs1")

  /** Tolerance-bounded backward as-of ([[graft.ops.Joins.asOfWithin]]):
    * q10's purchase←signup lookup, but a signup older than 6 hours
    * reads as NO match — pandas merge_asof(tolerance=...). */
  private def qAsOfWithin(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsDf(s, dir)
    graft.ops.Joins.asOfWithin(
      ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("value").as("purchase_val"), col("ts")),
      ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("value").as("sv"), col("ts")),
      "user_id", "user_id", "ts", "ts", "sv", "signup_val",
      toleranceUs = 21600000000L, inner = false)
      .select(col("user_id"), col("purchase_val"), col("signup_val"),
        unix_micros(col("ts")).as("ts_us"))
  }

  /** kNN label propagation ([[graft.ops.Similarity.labelPropagate]]):
    * labels masked off two-thirds of the embedding corpus (vec_id % 3
    * ≠ 0), each masked vector takes the majority label of its 5
    * nearest labeled neighbors via q46's multi-probe LSH machinery. */
  private def qLabelProp(s: SparkSession, dir: String): DataFrame =
    graft.ops.Similarity.labelPropagate(
      cpuTable(s, dir, "embeddings").withColumn("lbl",
        when(col("vec_id") % 3 === 0, col("label"))),
      "vec_id", "embedding", "lbl", k = 5, signBits = 8,
      probeHamming = 1, maxBucketOccupancy = LshMaxBucket)
      .select(col("vec_id"), col("lbl").as("label"), col("votes"))

  /** Per-source percentile gate ([[graft.ops.Sampling.percentileGate]]):
    * drop each source's bottom quartile by n_chars — the histogram-
    * cumsum percentile_disc cut, corpus never sorted. */
  private def qPercentileGate(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.percentileGate(
      cpuTable(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars")),
      "source", "n_chars", bp = 2500)
      .select(col("doc_id"), col("source"), col("n_chars"),
        col("__thr").as("thr"))

  /** Corpus CUBE ([[graft.ops.Stats.cubeSummary]]): counts and exact
    * char totals for every subset of (source, lang) — per source, per
    * language, per cell, and overall — in one Expand + hash-aggregate
    * pass; `gid` is the grouping bitmask rebuilt from per-column
    * grouping bits so both engines agree on it. */
  private def qCubeSummary(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.cubeSummary(table(s, dir, "documents"),
      Seq("source", "lang"), "n_chars")

  /** Interval-overlap join ([[graft.ops.Joins.intervalOverlapJoin]]):
    * per-(user, day) activity spans against four fixed 2-hour audit
    * windows per observed day — which windows saw how many active
    * spans/users. The engine joins span × window on a 6-hour bucket
    * grid with the first-shared-cell exactly-once filter (no distinct,
    * no cartesian); the oracle states the raw overlap inequality. */
  private def qIntervalOverlap(s: SparkSession, dir: String): DataFrame = {
    val day = 86400000000L
    val ev = eventsDf(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .withColumn("day", expr("ts_us div 86400000000"))
    val spans = ev.groupBy(col("user_id"), col("day"))
      .agg(min(col("ts_us")).as("s_lo"), max(col("ts_us")).as("s_hi"))
      .drop("day")
    val wins = ev.select(col("day")).distinct()
      .withColumn("k", explode(sequence(lit(0L), lit(3L))))
      .select((col("day") * 4 + col("k")).as("window_id"),
        (col("day") * day + col("k") * 21600000000L).as("w_lo"))
      .withColumn("w_hi", col("w_lo") + 7200000000L - 1)
    graft.ops.Joins.intervalOverlapJoin(
        spans, "s_lo", "s_hi", wins, "w_lo", "w_hi",
        bucketWidth = 21600000000L)
      .groupBy(col("window_id"), col("w_lo"))
      .agg(count(lit(1)).as("n_spans"),
        countDistinct(col("user_id")).as("n_users"))
  }

  /** Per-document token entropy ([[TextAnalysis.tokenEntropy]]): the
    * single-pass codegen scan — token count, type count, and unigram
    * Shannon entropy in exact micro-nats; the oracle recomputes it the
    * expensive way (explode + per-(doc, token) aggregate). */
  private def qTokenEntropy(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenEntropy(
      cpuTable(s, dir, "documents").filter(col("text").isNotNull),
      "doc_id", col("text"))

  /** Session co-visitation ([[graft.ops.Events.covisitation]] over
    * [[graft.ops.Events.sessionize]]'s 8-hour-gap sessions): for each
    * unordered event-type pair, the sessions containing both and the
    * lift against independence — the "did A, also did B" matrix. */
  private def qCovisitation(s: SparkSession, dir: String): DataFrame = {
    val sess = graft.ops.Events.sessionize(
      eventsDf(s, dir).select(col("event_id"), col("user_id"),
        col("event_type"), unix_micros(col("ts")).as("ts_us")),
      "user_id", "ts_us", "event_id", gapUs = 28800000000L)
    graft.ops.Events.covisitation(sess,
      Seq("user_id", "session_id"), "event_type")
  }

  /** Robust per-source size outliers ([[graft.ops.Stats.medianMad]]):
    * docs whose |n_chars − source median| exceeds 3 × the source's MAD
    * — the robust sibling of q76's z-score flags, decided by the same
    * integer cross-multiplication discipline. */
  private def qMedianMad(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.medianMad(
      table(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars")),
      "source", "n_chars", kNum = 3L, kDen = 1L)

  /** Source overlap matrix ([[Dedup.sourceOverlapMatrix]]): pairwise
    * shared-shingle counts and Jaccard between sources over q23's
    * 3-gram hash space — the ingest-worthiness report. */
  private def qSourceOverlap(s: SparkSession, dir: String): DataFrame =
    Dedup.sourceOverlapMatrix(cpuTable(s, dir, "documents"),
      "source", col("text"), n = 3)

  /** Rolling 7-day distinct actives ([[graft.ops.Events
    * .rollingActiveUsers]]): WAU per observed day via presence
    * replication — the exact form of the metric approximate sketches
    * trade away. */
  private def qRollingActive(s: SparkSession, dir: String): DataFrame =
    graft.ops.Events.rollingActiveUsers(
      eventsDf(s, dir).select(col("user_id"),
        unix_micros(col("ts")).as("ts_us")),
      "user_id", "ts_us", windowDays = 7)

  /** Stratified exact-n sample ([[graft.ops.Sampling.stratifiedExactN]]):
    * exactly 60 docs, per-source counts by largest-remainder
    * apportionment, membership by the q44/q71 ascending-hash rank. */
  private def qStratifiedSample(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.stratifiedExactN(
      table(s, dir, "documents").select(col("doc_id"), col("source")),
      "source", "doc_id", n = 60, seed = "strat1")

  /** Per-source percentile digest ([[graft.ops.Stats.percentilesDisc]]):
    * p25/p50/p75/p95 of n_chars in one histogram pass — every cut an
    * observed value under the q107 integer disc rule. */
  private def qPercentileDigest(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.percentilesDisc(
      table(s, dir, "documents").select(col("source"), col("n_chars")),
      "source", "n_chars", Seq(2500, 5000, 7500, 9500))

  /** Daily session-quality rollup ([[graft.ops.Events
    * .sessionStatsDaily]] over q72's 8-hour-gap sessions): bounce rate
    * in exact basis points, exact dwell totals, one derived mean. */
  private def qSessionStats(s: SparkSession, dir: String): DataFrame =
    graft.ops.Events.sessionStatsDaily(
      graft.ops.Events.sessionize(
        eventsDf(s, dir).select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us")),
        "user_id", "ts_us", "event_id", gapUs = 28800000000L),
      "user_id", "ts_us")

  /** Per-node triangle counts over the q113 kNN graph
    * ([[graft.ops.Centrality.triangleCounts]]): degree-oriented wedge
    * join — local clustering density as a redundancy/bridge signal on
    * the same edge list PageRank scores. */
  private def qKnnTriangles(s: SparkSession, dir: String): DataFrame = {
    // shared narrow scan, as in q113: three reads of the corpus (knnJoin
    // item + probe sides, node list) collapse onto one cached projection
    val embs = graft.ops.CacheScope.session.cache(
      cpuTable(s, dir, "embeddings").select(col("vec_id"), col("embedding")))
    val edges = Similarity.knnJoin(embs, "vec_id", "embedding",
      k = 3, signBits = AnnBits, probeHamming = AnnHamming,
      maxBucketOccupancy = LshMaxBucket)
      .select(col("qid").as("src"), col("id").as("dst"))
    graft.ops.Centrality.triangleCounts(edges,
      embs.select(col("vec_id")), "vec_id")
  }

  /** Language confusion matrix — [[TextAnalysis.langId]] predictions
    * against the labeled lang column: per (truth, prediction) cell the
    * count and its exact basis-point share of the truth row — the
    * model-eval report for the heuristic classifier. One codegen scan
    * + a cells-sized aggregate + a langs-sized window. */
  private def qLangConfusion(s: SparkSession, dir: String): DataFrame =
    cpuTable(s, dir, "documents")
      .select(col("lang"), TextAnalysis.langId(col("text")).as("lang_pred"))
      .groupBy(col("lang"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))
      .withColumn("share_bp",
        expr("(n * 10000) div sum(n) OVER (PARTITION BY lang)"))

  /** Split balance audit ([[graft.ops.Sampling.hashSplit]] composed
    * into [[graft.ops.Stats.cubeSummary]]): q44's assignment rolled up
    * by every subset of (split, source) — the fairness report that
    * catches a skewed split before training does. */
  private def qSplitAudit(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.cubeSummary(
      graft.ops.Sampling.hashSplit(
        table(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("n_chars")),
        "doc_id", Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)), "s1"),
      Seq("split", "source"), "n_chars")

  /** q136: probe-vs-corpus edit-distance lookup over the 40-char title
    * prefix — a 50-doc probe batch fuzzy-matched against the standing
    * corpus ([[graft.ops.StringSim.editDistanceLookup]]: corpus-side
    * gram order, banded-levenshtein verify); the oracle is the
    * probe × corpus product the operator's filter chain avoids. */
  private def qEditJoin(s: SparkSession, dir: String): DataFrame = {
    val titles = cpuTable(s, dir, "documents")
      .select(col("doc_id"), substring(col("text"), 1, 40).as("title"))
    graft.ops.StringSim.editDistanceLookup(
      titles.filter(col("doc_id") < 50), "doc_id", "title",
      titles, "doc_id", "title", maxDist = 6, q = 2)
  }

  /** q139: blocked edit-distance self-join — near-identical documents
    * (≤ 6 edits over the FULL text: the in-place-patch duplicates
    * byte-exact dedup misses) WITHIN the same language, with
    * length-interval banding ([[graft.ops.StringSim.editDistanceJoin]]
    * with `blockOn` + `lengthBand`): the band count grows with the
    * corpus's length spread, so within-block candidates stay bounded
    * where any fixed block tuple saturates — the scale-safe shape the
    * r14 30× probe demanded (fixed blocks trended quadratic, exponent
    * 0.65 → 0.82; the banded form is flat — SCALING.md). Results are
    * IDENTICAL to the unbanded form (ed ≤ k ⇒ length gap ≤ k). */
  private def qEditBlocked(s: SparkSession, dir: String): DataFrame =
    graft.ops.StringSim.editDistanceJoin(
      cpuTable(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text")),
      "doc_id", "text", maxDist = 6, q = 2,
      blockOn = Seq("lang"), lengthBand = 6)

  /** q137: recall@10 of the registered sign-LSH default ([[AnnBits]]
    * bits, Hamming ≤ [[AnnHamming]] probing) against exact brute force,
    * per query — the ANN evaluation harness
    * ([[graft.ops.Similarity.annRecall]]) under q26/q27's conventions. */
  private def qAnnRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = cpuTable(s, dir, "embeddings")
    graft.ops.Similarity.annRecall(emb, "vec_id", "embedding",
      emb.filter(col("vec_id") < 25), "vec_id", "embedding",
      k = 10, signBits = AnnBits, probeHamming = AnnHamming)
  }

  /** q138: shingle-containment join — ordered pairs where ≥80% of the
    * contained doc's distinct 3-gram shingles appear in the container
    * ([[graft.ops.StringSim.containmentJoin]]); the subsumption signal
    * Jaccard misses. */
  private def qContainment(s: SparkSession, dir: String): DataFrame =
    graft.ops.StringSim.containmentJoin(
      cpuTable(s, dir, "documents"), "doc_id", "text", n = 3, tauBp = 8000)

  /** q140: k-core of the part–supplier bipartite graph (supplier ids
    * offset into their own range) — iterative peeling to fixpoint
    * ([[graft.ops.Centrality.kCore]]); the oracle unrolls the peel as a
    * fixed CTE chain (6 rounds ≥ the observed fixpoint at both SFs, and
    * extra rounds are idempotent). */
  private def qKCore(s: SparkSession, dir: String): DataFrame =
    graft.ops.Centrality.kCore(
      table(s, dir, "lineitem").select(col("l_partkey").as("src"),
        (col("l_suppkey") + 10000000L).as("dst")),
      "node_id", k = 30)

  /** q141: exact-phrase retrieval over positional postings
    * ([[graft.ops.Retrieval.phraseSearch]]) — a 2-token and a 3-token
    * phrase, union-labeled; the primitive BM25's bag-of-words misses. */
  private def qPhraseSearch(s: SparkSession, dir: String): DataFrame = {
    val docs = cpuTable(s, dir, "documents")
    Retrieval.phraseSearch(docs, "doc_id", col("text"), Seq("table", "hash"))
      .withColumn("phrase", lit("table hash"))
      .unionByName(
        Retrieval.phraseSearch(docs, "doc_id", col("text"),
            Seq("slow", "hash", "batch"))
          .withColumn("phrase", lit("slow hash batch")))
      .select(col("phrase"), col("doc_id"), col("n_occ"))
  }

  /** q142: MinHash-LSH banding quality report — precision/recall of the
    * q24 candidate build against the exact q23 Jaccard truth, in basis
    * points ([[graft.ops.Dedup.minhashEval]]); the text-side twin of
    * q137's ANN recall. */
  private def qLshEval(s: SparkSession, dir: String): DataFrame =
    // shared narrow scan (r21): the eval tokenizes the corpus twice —
    // the MinHash signature pass and the exact-Jaccard shingle pass —
    // and each consumed its own parquet scan + scatter exchange; one
    // cached (doc_id, text) projection feeds both
    Dedup.minhashEval(
      CacheScope.session.cache(
        cpuTable(s, dir, "documents").select(col("doc_id"), col("text"))),
      "doc_id", col("text"),
      n = 3, k = 8, rowsPerBand = 4, maxBucket = LshMaxBucket,
      threshold = 0.5, maxDf = 100)

  /** q143: cross-language duplication matrix — exact near-dup pairs
    * (q23's build) labeled with both sides' languages: the
    * "which languages leak into which" contamination report. */
  private def qDupLangMatrix(s: SparkSession, dir: String): DataFrame = {
    val docs = cpuTable(s, dir, "documents")
    Dedup.ngramJaccardPairs(docs, "doc_id", col("text"),
        n = 3, threshold = 0.5, maxDf = 100)
      .join(docs.select(col("doc_id").as("a"), col("lang").as("__la")), "a")
      .join(docs.select(col("doc_id").as("b"), col("lang").as("__lb")), "b")
      .groupBy(least(col("__la"), col("__lb")).as("lang_a"),
        greatest(col("__la"), col("__lb")).as("lang_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** q144: canonical text normalization
    * ([[graft.ops.TextAnalysis.normalizeText]] — Cc/Cf strip, codegen
    * NFC, space collapse, trim) fingerprinted per doc; `changed` counts
    * docs the pass rewrote. */
  private def qNormalizeText(s: SparkSession, dir: String): DataFrame =
    cpuTable(s, dir, "documents")
      .select(col("doc_id"),
        TextAnalysis.normalizeText(col("text")).as("__n"), col("text"))
      .select(col("doc_id"), md5(col("__n")).as("norm_md5"),
        (col("__n") =!= col("text")).cast("long").as("changed"))

  /** q145: per-language ROC AUC of document length against the
    * embedding-label class, by the exact Mann–Whitney midrank statistic
    * ([[graft.ops.Stats.groupAuc]]) — integer end to end. */
  private def qScoreAuc(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.groupAuc(
      table(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
        .join(table(s, dir, "embeddings").select(col("vec_id").as("doc_id"),
          (col("label") < 5).cast("long").as("y")), "doc_id"),
      Seq("lang"), "y", "n_chars")

  /** q146: Welch A/B comparison of order quantity between return flags
    * R and A per line status ([[graft.ops.Stats.abTest]]) — integer
    * moments, one fixed IEEE z² sequence, integer-space significance. */
  private def qAbTest(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.abTest(table(s, dir, "lineitem"),
      Seq("l_linestatus"), "l_returnflag", "R", "A", "l_quantity",
      critBp = 19600L)

  /** q147: leakage-safe out-of-fold target-encoding table
    * ([[graft.ops.Features.targetEncode]]) — lang × 5 md5-hash folds,
    * exact integer numerators, NULL (not fabricated) for categories
    * with no out-of-fold evidence. */
  private def qTargetEncoding(s: SparkSession, dir: String): DataFrame =
    graft.ops.Features.targetEncode(table(s, dir, "documents"),
      "lang", "n_chars", "doc_id", folds = 5, seed = "te1")

  /** q148: two-proportion conversion A/B test
    * ([[graft.ops.Stats.proportionAb]]) — discount incidence between
    * return flags R and A per line status, decided fully exactly in
    * DECIMAL(38,0) cross-multiplied form. */
  private def qConversionAb(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.proportionAb(
      table(s, dir, "lineitem").select(col("l_linestatus"),
        col("l_returnflag"), (col("l_discount") > 0.05).cast("long").as("conv")),
      Seq("l_linestatus"), "l_returnflag", "R", "A", "conv",
      critBp = 19600L)

  /** q149: the index/model evaluation card — q142's LSH banding
    * precision/recall/candidates, q145's AUC spread, and the fitted
    * IVF's q156-shape recall@5, scalarized into one (metric, value)
    * report: the composed "is the approximate machinery good enough to
    * ship" sheet, each metric riding its oracle-gated pipeline. r17
    * trim (verdict task 6): the 25-query recall + scanned-fraction
    * INSTRUMENT rows (ann_recall/ann_hit/ann_scan/ivf_scan/
    * ivf_recall25) moved to the RecallSweep harness — they re-ran
    * q137's and a second 25-query brute truth inside every card build
    * (the card was the bench's most expensive query at 7.4 s steady),
    * while q137/q142 already gate those shapes as registered queries
    * and RecallSweep measures the recall-vs-scan trade at every knob
    * setting, not one point. */
  private def qEvalCard(s: SparkSession, dir: String): DataFrame = {
    val lsh = qLshEval(s, dir).select(expr(
      "stack(3, 'lsh_precision_bp', precision_bp, 'lsh_recall_bp', recall_bp," +
        " 'lsh_candidates', n_candidates) AS (metric, value)"))
    val auc = qScoreAuc(s, dir)
      .agg(min(col("auc_bp")).as("mn"), max(col("auc_bp")).as("mx"))
      .select(expr("stack(2, 'auc_bp_min', mn, 'auc_bp_max', mx) AS (metric, value)"))
    // the other index family on the card: fitted-IVF recall@5 against
    // exact brute force over q156's 5-query sample (5 × 5 = 25 slots).
    // ONE fit serves every ivf row on the card (q156's plan re-fit
    // here would pay the 2-round model twice per card build).
    // Shared narrow scan (r21, the q118 pattern): the card reads the
    // embedding corpus four times — brute-truth item + query sides, IVF
    // item + query sides — one cached projection collapses them.
    val embAll = graft.ops.CacheScope.session.cache(
      cpuTable(s, dir, "embeddings").select(col("vec_id"), col("embedding")))
    val cents = registeredCentroids(s, dir)
    val ivfTruth = Similarity.bruteForceTopK(embAll, "vec_id", "embedding",
      embAll.filter(col("vec_id") < 5), "vec_id", "embedding", k = 5)
    val ivf5 = Similarity.ivfTopK(embAll, "vec_id", "embedding",
      embAll.filter(col("vec_id") < 5), "vec_id", "embedding",
      cents, k = 5, nProbe = 2) // q156's exact registered shape
    val ivf = ivfTruth.select(col("qid"), col("id"))
      .join(ivf5.select(col("qid"), col("id")), Seq("qid", "id"))
      .agg(count(lit(1)).as("h"))
      .select(expr(
        "stack(1, 'ivf_recall_bp_mean', (h * 10000) div 25) AS (metric, value)"))
    lsh.unionByName(auc).unionByName(ivf)
      .select(col("metric"), col("value").cast("long").as("value"))
  }

  /** q150: q145's AUC by the histogram form
    * ([[graft.ops.Stats.groupAucHist]] — no per-row rank window; the
    * midranks come from the (group, score) histogram's running counts,
    * the discrete-score shape that survives 100 TB). Same fixture, same
    * oracle body as q145: two plans, one truth. */
  private def qAucHist(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.groupAucHist(
      table(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
        .join(table(s, dir, "embeddings").select(col("vec_id").as("doc_id"),
          (col("label") < 5).cast("long").as("y")), "doc_id"),
      Seq("lang"), "y", "n_chars")

  /** q151: calibration table for q145's score/label pair
    * ([[graft.ops.Stats.calibrationTable]]) — per (lang, score
    * quartile), the exact positive rate: what a score region MEANS,
    * the reliability companion to AUC. */
  private def qCalibration(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.calibrationTable(
      table(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
        .join(table(s, dir, "embeddings").select(col("vec_id").as("doc_id"),
          (col("label") < 5).cast("long").as("y")), "doc_id"),
      "lang", "y", "n_chars", Seq(0.25, 0.5, 0.75))

  /** q152: count/frequency encoding table for `source`
    * ([[graft.ops.Features.countEncode]]). */
  private def qCountEncoding(s: SparkSession, dir: String): DataFrame =
    graft.ops.Features.countEncode(table(s, dir, "documents"), "source")

  /** q153: funnel step latency — per completed transition, the exact
    * discrete p50/p90 of the step delta ([[graft.ops.Events.funnel]]
    * composed into [[graft.ops.Stats.percentilesDisc]]): "how long from
    * view to click, click to purchase". */
  private def qFunnelLatency(s: SparkSession, dir: String): DataFrame = {
    val f = graft.ops.Events.funnel(
      eventsDf(s, dir).select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us")),
      "user_id", "event_type", "ts_us", Seq("view", "click", "purchase"))
    val deltas = f.select(expr(
        "stack(2, 'view>click', t2_us - t1_us," +
          " 'click>purchase', t3_us - t2_us) AS (step, delta_us)"))
      .filter(col("delta_us").isNotNull)
    graft.ops.Stats.percentilesDisc(deltas, "step", "delta_us", Seq(5000, 9000))
  }

  /** q154: duplicate-cluster size histogram — q47's connected
    * components rolled up to (cluster size → number of clusters, docs
    * held): the "how duplicated is this corpus" report that sizes the
    * dedup win before anyone runs it. */
  private def qDupHistogram(s: SparkSession, dir: String): DataFrame = {
    val docs = cpuTable(s, dir, "documents")
    val cc = Dedup.connectedComponents(
      Dedup.ngramJaccardPairs(docs, "doc_id", col("text"),
        n = 3, threshold = 0.5, maxDf = 100),
      docs.select(col("doc_id")), "doc_id")
    cc.groupBy(col("cluster")).agg(count(lit(1)).as("__sz"))
      .groupBy(col("__sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("__sz")).as("n_docs"))
  }

  /** q157: INCREMENTAL near-dup clustering — the corpus arrives as a
    * standing 3/4 (clustered once) plus a new quarter; the batch's
    * pairs fold into the standing labels through
    * [[graft.ops.Dedup.connectedComponentsIncremental]] (iterative work
    * on the touched-label graph only, pairs-sized). The oracle is q47's
    * FULL-recompute SQL over the whole corpus — two plans, one truth:
    * the incremental merge must be bit-identical to re-clustering
    * everything. */
  private def qCcIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = cpuTable(s, dir, "documents")
    val pairs = graft.ops.CacheScope.session.cache(
      Dedup.ngramJaccardPairs(docs, "doc_id", col("text"),
        n = 3, threshold = 0.5, maxDf = 100))
    val isNew = (c: Column) => c % 4 === 0
    val oldPairs = pairs.filter(!isNew(col("a")) && !isNew(col("b")))
    val batchPairs = pairs.filter(isNew(col("a")) || isNew(col("b")))
    val oldLabels = Dedup.connectedComponents(oldPairs,
      docs.filter(!isNew(col("doc_id"))).select(col("doc_id")), "doc_id")
    Dedup.connectedComponentsIncremental(oldLabels, batchPairs,
      docs.filter(isNew(col("doc_id"))).select(col("doc_id")), "doc_id")
  }

  /** The 8 lowest-id corpus vectors as deterministic seed centroids —
    * q37/q98's convention (a bounded 8-row model fetch). `embeddings` is
    * the unscattered table read, which the caller shares with its own
    * scan instead of reading the schema twice. */
  private def seedCentroids(embeddings: DataFrame): Seq[(Int, Array[Float])] =
    embeddings.filter(col("vec_id") < 8)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toArray)).toSeq.sortBy(_._1)

  /** q155: iterative k-means fit ([[Similarity.kmeansFitInt8]] — two
    * Lloyd rounds from the q98 seed, int8-exact updates, FLOAT-cast
    * centroids) emitting the fitted assignment's per-cluster stats in
    * q98's shape: the oracle unrolls both rounds as CTEs, so c_md5
    * moves if ANY round's assignment flips anywhere — DuckDB confirms
    * the whole iteration exactly, the q113 discipline. */
  private def qKmeansFit(s: SparkSession, dir: String): DataFrame = {
    val raw = table(s, dir, "embeddings")
    val embs = graft.sources.Sources.scatter(raw)
      .select(col("vec_id"), col("embedding"))
    val fitted = CacheScope.session.model(("kmeansFit8", dir, corpusStamp(dir), 8, 2)) {
      Similarity.kmeansFitInt8(embs, "embedding", seedCentroids(raw), iters = 2)
    }
    Similarity.kmeansStepInt8(embs, "embedding", fitted)
      .select(col("cluster").cast("long").as("cluster"), col("n_vecs"),
        md5(array_join(transform(col("centroid_sum"), _.cast("string")), ","))
          .as("c_md5"),
        aggregate(col("centroid_sum"), lit(0L), _ + _).as("c_sum"))
  }

  /** q156: IVF top-k over FITTED centroids — [[Similarity.ivfTopK]]
    * consuming [[Similarity.kmeansFitInt8]]'s output instead of the raw
    * seed (q37's remaining gap): the coarse quantizer is now trained on
    * the data, which is what makes IVF the recall-per-scanned-row
    * winner on sign-unstable embeddings (measured in SCALING.md's ANN
    * recall sweep). Same query/probe conventions as q37. */
  private def qIvfFitted(s: SparkSession, dir: String): DataFrame = {
    val emb = cpuTable(s, dir, "embeddings")
    Similarity.ivfTopK(emb, "vec_id", "embedding",
      emb.filter(col("vec_id") < 5), "vec_id", "embedding",
      registeredCentroids(s, dir), k = 5, nProbe = 2)
  }

  /** The FIXED-CELL full-corpus fit — [[IvfCells]] cells, 2 Lloyd
    * rounds ([[Similarity.kmeansFitInt8]]) from the lowest-id seeds.
    * Since r18 this is the PIN, not the default: the registered
    * flagship consumers moved to [[registeredCentroids]] (derived
    * cells + sample fit — the geometry whose occupancy guard does NOT
    * refuse at 10×); this fit remains for q166's two-level derivation
    * (the IMI structure wants a stable cell count for its branch
    * hierarchy) and as the fixture-tuned reference point the sweeps
    * compare against. Memoized like every fit (key pins corpus dir +
    * fingerprint × cells × iters); determinism (int8-exact updates,
    * fixed seeds/rounds) is what makes the memo invisible to
    * correctness. */
  private def fittedCentroids(s: SparkSession, dir: String): Seq[(Int, Array[Float])] =
    CacheScope.session.model(("fittedCentroids", dir,
      corpusStamp(dir), IvfCells, 2)) {
      val seeds = table(s, dir, "embeddings").filter(col("vec_id") < IvfCells)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toArray)).toSeq.sortBy(_._1)
      Similarity.kmeansFitInt8(
        table(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
        "embedding", seeds, iters = 2)
    }

  /** The registered quantizer's PERSISTED-ARTIFACT name (q174's table —
    * [[graft.sources.Artifacts.tableName]] pins corpus fingerprint +
    * dir), shared by the probe query, the refit entry point and the
    * generation token below. */
  private[graft] def ivfModelTable(dir: String): String =
    graft.sources.Artifacts.tableName("graft_ivf_model", dir,
      corpusStamp(dir))

  /** The registered quantizer's MODEL GENERATION — folded into every
    * memo key that caches the fit or a structure derived from it
    * ([[registeredCentroids]], q169's refined list, q173's auto-route
    * index), so a drift-triggered [[refitIvfModel]] invalidates the
    * whole chain even when `corpusStamp` cannot move (same-bytes refit;
    * non-local dirs stamp 0) — r19 verdict item 2. */
  private def ivfModelGen(dir: String): Long =
    graft.sources.Artifacts.generation(ivfModelTable(dir))

  /** REFIT-IN-PLACE of the registered quantizer — the composed
    * drift→refit→consume step (r19 verdict item 2): when q160/q161's
    * drift report says `needs_refit`, this re-derives the model and
    * rebuilds the q174 artifact under [[graft.sources.Artifacts
    * .refreshTable]]'s lock. The generation bump inside `refreshTable`
    * happens BEFORE the rebuild, so the `build` closure's call to
    * [[registeredCentroids]] re-runs the fit (its memo key carries the
    * generation) rather than persisting the stale memo back — and
    * every downstream generation-keyed memo (q169's refined list,
    * q173's derived index) re-derives at its next resolution. Spec-
    * pinned: ArtifactsSpec proves a probe after refit serves the
    * refreshed geometry. */
  private[graft] def refitIvfModel(s: SparkSession, dir: String): Unit = {
    val tbl = ivfModelTable(dir)
    graft.sources.Artifacts.refreshTable(s, tbl,
        path = s"/tmp/graft_ivf_model/$tbl") {
      import s.implicits._
      registeredCentroids(s, dir)
        .map { case (cid, v) => (cid, v.toSeq) }.toDF("cid", "cvec")
    }
  }

  /** The registered quantizer's DERIVED cell count: ⌈non-null corpus /
    * [[TargetCellOcc]]⌉ (min 2) — a 1-row aggregate, memoized. This is
    * what makes the default geometry scale-surviving: occupancy stays
    * ~[[TargetCellOcc]] as the corpus grows, so the candidate join's
    * per-cell occupancy² term is bounded and the fail-fast guard stays
    * silent where the fixed-32 shape refused at 10× (r17 sweep). The
    * oracle derives the identical count via [[CellsSql]]. */
  private def registeredCells(s: SparkSession, dir: String): Int =
    CacheScope.session.model(("registeredCells", dir,
        corpusStamp(dir), ivfModelGen(dir), TargetCellOcc)) {
      val n = table(s, dir, "embeddings")
        .filter(col("embedding").isNotNull).count()
      math.max(2, math.ceil(n / TargetCellOcc.toDouble).toInt)
    }

  /** The REGISTERED fitted coarse quantizer (q46/q62/q149/q156/q162) —
    * r18 flip (verdict task 1): the scale-surviving geometry q165
    * proved oracle-unrollable is now the default the flagship queries
    * consume. Cells DERIVED from a corpus count ([[registeredCells]] —
    * holds occupancy constant as the corpus grows), quantizer FIT ON A
    * SAMPLE ([[SampleFitFraction]] hash membership, seeds = the cells
    * lowest-id SAMPLED vectors, 2 Lloyd rounds over the sample only —
    * [[Similarity.kmeansFitInt8]] `fitFraction`), assignment + probes
    * over the FULL corpus. Every step is a pure function of (corpus,
    * fraction, cells), so each consuming oracle unrolls the whole
    * model history: the sample as a WHERE predicate, the seed rule as
    * ORDER BY/LIMIT against the derived count ([[kmeansFitCtes]] with
    * `kcSql = CellsSql`). Memoized per (dir, fingerprint, occupancy,
    * iters, fraction) — one fit serves all five consumers per pass,
    * the deployment's fit-once shape. */
  private[graft] def registeredCentroids(s: SparkSession, dir: String): Seq[(Int, Array[Float])] =
    CacheScope.session.model(("registeredCentroids", dir,
        corpusStamp(dir), ivfModelGen(dir), TargetCellOcc, 2,
        SampleFitFraction)) {
      val kc = registeredCells(s, dir)
      val all = table(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      // seeds come from the FULL corpus since r19, not the sample —
      // the r18 sampled-seed rule was the registered geometry's
      // dominant recall cost, MEASURED (SCALING.md "the registered
      // geometry's recall, measured": sampled seeds −2,900 bp even
      // under a full fit; sample-fit thinness −1,640 more; Lloyd depth
      // does not recover either). The full-corpus id prefix is a
      // distributed top-k (cheap at any scale); on corpora whose id
      // order correlates with content a prefix is NOT a stratified
      // draw — re-measure with the RecallSweep occupancy table before
      // trusting it (a hash-ordered pseudorandom draw measured WORSE
      // here precisely because this fixture's id order interleaves its
      // label clusters).
      val seeds = all.orderBy(col("vec_id")).limit(kc)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toArray))
        .toSeq.sortBy(_._1)
      Similarity.kmeansFitInt8(all, "embedding", seeds, iters = 2,
        fitFraction = SampleFitFraction, fitIdCol = "vec_id",
        fitSeed = "ivf")
    }

  /** q160/q161's STANDING quantizer — the q156-discipline fit restricted
    * to the standing three quarters (vec_id % 4 ≠ 0, 43 lowest-id
    * standing seeds ⇒ 32 cells), memoized like [[fittedCentroids]]:
    * both maintenance queries replay the same model history, so the
    * fit is keyed once per corpus. */
  private def standingCentroids(s: SparkSession, dir: String): Seq[(Int, Array[Float])] =
    CacheScope.session.model(("standingCentroids", dir,
      corpusStamp(dir), 43, 2)) {
      val seeds = table(s, dir, "embeddings")
        .filter(col("vec_id") % 4 =!= 0 && col("vec_id") < 43)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toArray))
        .toSeq.sortBy(_._1)
      Similarity.kmeansFitInt8(
        table(s, dir, "embeddings").filter(col("vec_id") % 4 =!= 0)
          .select(col("vec_id"), col("embedding")),
        "embedding", seeds, iters = 2)
    }

  /** q158: hybrid lexical ⊕ vector retrieval — the q82 BM25 top-20 and
    * the q26 brute-cosine top-20 (same doc_id ↔ vec_id key space)
    * fused by reciprocal-rank fusion ([[graft.ops.Retrieval.rrfFuse]],
    * c = 60, exact decimal term sum), top-10 per query. The RAG-era
    * curation primitive: rank-based fusion needs no score calibration
    * between the two arms, and each arm stays its own scale path (the
    * corpus-sized work is producing the two top-k lists; the fuse is a
    * bounded-union aggregate). */
  private def qHybridRrf(s: SparkSession, dir: String): DataFrame = {
    val docs = cpuTable(s, dir, "documents")
    val emb = cpuTable(s, dir, "embeddings")
    val queries = docs.filter(col("doc_id") < 5)
      .select(col("doc_id").as("query_id"),
        array_join(slice(split(col("text"), " "), 1, 6), " ").as("qtext"))
    val lex = graft.ops.Retrieval.bm25TopK(docs, "doc_id", col("text"),
        queries, "query_id", col("qtext"), k = 20)
      .select(col("query_id"), col("doc_id"), col("rank"))
    val vec = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 20)
      .select(col("qid").as("query_id"), col("id").as("doc_id"), col("rank"))
    graft.ops.Retrieval.rrfFuse(Seq(lex, vec), "query_id", "doc_id",
      "rank", k = 10)
  }

  /** q159: MMR-diversified selection ([[Similarity.mmrSelect]],
    * λ = 0.7, 6 picks from the q26 brute-cosine top-20 shortlist) —
    * diverse exemplar mining over a near-dup-heavy corpus. The oracle
    * unrolls all six greedy steps as CTEs (the q155 discipline), so
    * every argmax — not just the final pick set — is hash-pinned
    * cross-engine.
    *
    * NOT THE DEPLOYMENT PATH (r18 routing mark): this registration is
    * the distributed CONGRUITY TWIN of q167 — it stays registered so
    * the driver gate itself pins the two paths to the same unrolled
    * oracle, but deployments select through q167's
    * [[Similarity.mmrSelectLocal]] (66× faster, exponent 0.37 vs 1.26
    * — the ~3-jobs-per-pick chain measured in ScaleProbe
    * `mmr_deploy`). [[Similarity.mmrSelect]] itself fail-fasts past
    * [[Similarity.MmrDistributedMaxK]] picks. */
  private def qMmrDiversify(s: SparkSession, dir: String): DataFrame = {
    val emb = cpuTable(s, dir, "embeddings")
    val shortlist = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 20)
    val cand = shortlist.join(
      emb.select(col("vec_id").as("id"), col("embedding")), "id")
    Similarity.mmrSelect(cand, "qid", "id", "cos", "embedding",
      k = 6, lambda = 0.7)
  }

  /** q167: q159's selection through the DEPLOYMENT-scale MMR path
    * ([[Similarity.mmrSelectLocal]] — the per-query greedy loop as one
    * `mapGroups` pass instead of k chained jobs): identical inputs,
    * identical arithmetic, IDENTICAL oracle SQL as q159 — registering
    * both paths against the same unrolled CTEs pins their equivalence
    * in the driver gate itself, not just the unit suite. The local
    * form is why production can pick ~100 from ~1k per query without
    * paying ~3 Spark jobs per pick (ScaleProbe `mmr_deploy` exponent
    * 1.15 distributed vs `mmr_deploy_local` — the candidate set is
    * per-query bounded, the legitimate per-group-imperative case). */
  private def qMmrLocal(s: SparkSession, dir: String): DataFrame = {
    val emb = cpuTable(s, dir, "embeddings")
    val shortlist = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 20)
    val cand = shortlist.join(
      emb.select(col("vec_id").as("id"), col("embedding")), "id")
    Similarity.mmrSelectLocal(cand, "qid", "id", "cos", "embedding",
      k = 6, lambda = 0.7)
  }

  /** q160: IVF index drift monitor ([[Similarity.ivfDrift]]) — the
    * standing 3/4 of the corpus carries the fitted quantizer (32
    * standing seeds below id 43, 2 Lloyd rounds — the q157 batch
    * convention on the q156 fit discipline); the arriving quarter
    * assigns to it and each cell reports growth + cohesion + a refit
    * trigger. The oracle unrolls the standing-only fit and both
    * assignment passes; all stats are exact integers (bp), so the
    * whole maintenance decision is hash-pinned. */
  private def qIvfDrift(s: SparkSession, dir: String): DataFrame = {
    val emb = cpuTable(s, dir, "embeddings")
    val standing = emb.filter(col("vec_id") % 4 =!= 0)
    val batch = emb.filter(col("vec_id") % 4 === 0)
    Similarity.ivfDrift(standing, batch, "embedding",
      standingCentroids(s, dir),
      cohesionFloorBp = 3500, growthCapBp = 5000)
  }

  /** q161: warm-start IVF refit migration ([[Similarity
    * .ivfRefitReport]]) — the repair step q160's triggers call for:
    * the standing quantizer (q160's exact fit) takes ONE more Lloyd
    * round over the GROWN corpus (warm start — ids keep their cells'
    * identity), and the report counts per-cell stay/in/out migration,
    * deciding relabel-vs-rebuild. The oracle unrolls the standing fit,
    * the full-corpus refit round, and both assignment passes — every
    * emitted count is hash-pinned through the entire model history. */
  private def qIvfRefit(s: SparkSession, dir: String): DataFrame = {
    val emb = cpuTable(s, dir, "embeddings")
    val oldC = standingCentroids(s, dir)
    val newC = Similarity.kmeansFitInt8(
      emb.select(col("vec_id"), col("embedding")), "embedding",
      oldC, iters = 1)
    Similarity.ivfRefitReport(emb, "embedding", oldC, newC)
  }

  /** q162: cluster cards — the fitted quantizer's cells labeled by
    * their top-3 distinguishing tokens ([[TextAnalysis
    * .distinguishingTokens]] over the doc_id ↔ vec_id linkage): the
    * human-readable answer to "what did the quantizer put in this
    * cell", pairing with q160's occupancy/cohesion numbers. Exact
    * integers end to end (distinctiveness weight tf·(n_groups−df+1) —
    * the rational-idf ordering with no float); ties by the vocabTopK
    * hash60 convention. */
  private def qClusterCard(s: SparkSession, dir: String): DataFrame = {
    val emb = cpuTable(s, dir, "embeddings")
    val docs = cpuTable(s, dir, "documents")
    val cents = registeredCentroids(s, dir)
    val assigned = emb.filter(col("embedding").isNotNull)
      .select(col("vec_id"),
        Similarity.ivfCell(col("embedding"), cents).cast("long").as("cell"))
    val clustered = assigned.join(
      docs.select(col("doc_id").as("vec_id"), col("text")), "vec_id")
    TextAnalysis.distinguishingTokens(clustered, "cell", col("text"), k = 3)
  }

  /** q163: maximal duplicated token spans ([[Dedup.duplicatedSpans]],
    * n = 8, minDocs = 2) — the exact-substring dedup unit (Lee et al.):
    * duplicated runs coalesced by token-interval union into DISJOINT
    * maximal regions (r17: overlapping/touching spans merge, so the
    * rows can feed a cutter directly — see q164), reported per
    * document with 1-based token boundaries. On the fixture the spans
    * are the mutated every-20th near-dup pairs' shared
    * prefixes/suffixes. */
  private def qDupSpans(s: SparkSession, dir: String): DataFrame =
    Dedup.duplicatedSpans(cpuTable(s, dir, "documents"), "doc_id",
      col("text"), n = 8, minDocs = 2)

  /** q164: exact-substring span-cut dedup ([[Dedup.spanCutDedup]],
    * n = 8, minDocs = 2) — the CUTTER q163's regions exist for (Lee et
    * al.'s actual dedup step): each duplicated run keeps its first
    * corpus-wide occurrence, every other occurrence's tokens are cut,
    * and the surviving text reassembles per document — the
    * exact-substring analogue of q56's chunk-level keep-earliest.
    * Every document survives with clean text + kept/cut counts, so the
    * output chains into the q91 curation pipeline shape (filter on
    * n_tokens_kept, feed dedup_text downstream). */
  private def qSpanCut(s: SparkSession, dir: String): DataFrame =
    Dedup.spanCutDedup(cpuTable(s, dir, "documents"), "doc_id",
      col("text"), n = 8, minDocs = 2)

  /** q168: crawl-ingest span-cut ([[Dedup.spanCutAgainst]]) — q164's
    * incremental form on the q63/q77 split (reference = doc_id % 4 ==
    * 0, incoming = the rest): every incoming token covered by an
    * 8-shingle already present in the standing reference is cut; the
    * reference reduces to its distinct shingle index (the amortizable
    * standing artifact) and is never itself re-cut. The ingest-time
    * answer to "don't let the crawl re-admit text the corpus already
    * has", at exact-substring granularity. */
  private def qSpanCutIngest(s: SparkSession, dir: String): DataFrame = {
    val docs = cpuTable(s, dir, "documents")
    Dedup.spanCutAgainst(
      docs.filter(col("doc_id") % 4 =!= 0),
      docs.filter(col("doc_id") % 4 === 0),
      "doc_id", col("text"), n = 8)
  }

  /** q171: q168's span-cut ingest probing a PERSISTED standing index
    * (r18, verdict task 3 — the amortization claim, exercised): the
    * reference quarter's distinct shingle keys are extracted once
    * ([[graft.ops.Dedup.spanIndexKeys]]), WRITTEN as a parquet table
    * bucketed on the key ([[graft.sources.Sources.writeBucketedTable]]
    * — the standing-index artifact a deployment builds at ingest), and
    * every probe READS IT BACK from disk: the index side of the
    * semi-join scans pre-bucketed files with no exchange, and the
    * reference corpus is never re-read at probe time. Same inputs,
    * same semantics, IDENTICAL oracle SQL as q168 — registering both
    * paths against one truth pins build-then-probe ≡ in-query-rebuild
    * in the driver gate itself (the q159/q167 twin convention). The
    * write happens once per (corpus, JVM) through the model memo;
    * ScaleProbe `span_index_build` vs `span_cut_probe_indexed`
    * separates the two costs the composition amortizes. */
  private def qSpanCutIndexed(s: SparkSession, dir: String): DataFrame = {
    val docs = cpuTable(s, dir, "documents")
    // build-once is keyed on the CATALOG, not the JVM-lifetime model
    // memo: saveAsTable registers in the current SparkSession's
    // catalog only, so a later session in the same JVM must rebuild —
    // a memoized NAME would hit while the new session's catalog is
    // empty (r18 review catch). The name pins corpus identity
    // (fingerprint + dir hash) and the build is race-safe under
    // parallel query execution — [[graft.sources.Artifacts]], the r19
    // restructure of the r18 inline check-then-act.
    val idxTable = graft.sources.Artifacts.tableName(
      "graft_span_idx", dir, corpusStamp(dir))
    graft.sources.Artifacts.ensureTable(s, idxTable,
        path = s"/tmp/graft_span_index/$idxTable",
        nBuckets = 32, bucketCols = Seq("__k")) {
      Dedup.spanIndexKeys(docs.filter(col("doc_id") % 4 === 0),
        col("text"), n = 8)
    }
    Dedup.spanCutAgainstIndex(
      docs.filter(col("doc_id") % 4 =!= 0),
      s.table(idxTable), "doc_id", col("text"), n = 8)
  }

  /** q175: the standing span index UPDATED between batches (r19,
    * verdict task 3 — the ingest loop's missing step after q171's
    * frozen artifact): a TWO-BATCH crawl sequence where batch 2's cut
    * provably sees batch 1's survivors. Reference = doc_id % 4 == 0
    * (its distinct shingles are the standing index), batch 1 = % 4 ∈
    * {1, 2} is span-cut against the index, then the index ABSORBS
    * batch 1's surviving text ([[graft.ops.Dedup.spanIndexAppend]] —
    * new keys are the survivors' reassembled `dedup_text` shingles
    * anti-joined against the standing set), and batch 2 = % 4 == 3 is
    * cut against the UPDATED index. The split is chosen so the append
    * is what batch 2's cut consists of: the fixture's near-dup pairs
    * sit at ids 18/19 mod 20, i.e. 2/3 mod 4 — batch 2's docs share
    * runs with BATCH-1 text, not with the reference (measured at
    * sf0.01: 0 batch-2 shingle hits on the reference keys, 279 on the
    * appended keys), so a frozen index would emit batch 2 UNCUT and
    * this oracle's rows are unreachable without the update. Output:
    * batch 2's [[graft.ops.Dedup.spanCutDedup]]-shaped rows; the
    * oracle unrolls reference keys → batch-1 cut → batch-1 reassembly
    * → appended keys → the union → batch-2 cut, every boundary
    * hash-pinned. ScaleProbe `span_index_append` pins the append cost
    * ∝ batch, not ∝ index. */
  private def qSpanIndexUpdate(s: SparkSession, dir: String): DataFrame = {
    val docs = cpuTable(s, dir, "documents")
    // the standing index feeds three consumers (batch-1 probe, the
    // append anti-join, the union) — one materialization, the q171
    // convention (a deployment reads the persisted table instead)
    val idx1 = CacheScope.session.cache(
      Dedup.spanIndexKeys(docs.filter(col("doc_id") % 4 === 0),
        col("text"), n = 8))
    val b1cut = Dedup.spanCutAgainstIndex(
      docs.filter(col("doc_id") % 4 === 1 || col("doc_id") % 4 === 2),
      idx1, "doc_id", col("text"), n = 8)
    val idx2 = idx1.unionByName(
      Dedup.spanIndexAppend(idx1, b1cut, col("dedup_text"), n = 8))
    Dedup.spanCutAgainstIndex(docs.filter(col("doc_id") % 4 === 3),
      idx2, "doc_id", col("text"), n = 8)
  }

  /** q176: the standing VECTOR corpus updated between batches (r19 —
    * q175's two-batch discipline on the embedding side, closing the
    * crawl loop for cosine ingest dedup): batch 1 (vec_id % 4 ∈
    * {1, 2}) is dropped against the standing reference (% 4 == 0) by
    * [[graft.ops.Dedup.cosineMatchedAgainst]] (q66's exact constants —
    * 8 sign bits, 4-probe registration, 0.3 threshold, occupancy
    * caps), its SURVIVORS JOIN THE CORPUS, and batch 2 (% 4 == 3) is
    * dropped against reference ∪ batch-1 survivors — so a near-dup of
    * an ADMITTED crawl document is rejected even though it matches
    * nothing in the original reference. Within-batch duplication
    * stays out of scope (the family contract; run q28/q64 within the
    * batch). The oracle unrolls both rounds: batch-1 match/anti,
    * the union corpus's 4-probe re-registration, batch-2 match/anti —
    * every stage q66's conventions verbatim. Output: batch 2's
    * surviving (vec_id, label). */
  private def qVectorCorpusUpdate(s: SparkSession, dir: String): DataFrame = {
    val embs = cpuTable(s, dir, "embeddings")
    val ref = embs.filter(col("vec_id") % 4 === 0)
    val b1 = embs.filter(col("vec_id") % 4 === 1 || col("vec_id") % 4 === 2)
    val b2 = embs.filter(col("vec_id") % 4 === 3)
    // batch-1 survivors feed the union's BOTH probe registrations and
    // the match join — one materialization (the q175 convention)
    val s1 = CacheScope.session.cache(
      Dedup.dropNearDupsAgainst(b1, "vec_id",
        Dedup.cosineMatchedAgainst(b1, ref, "vec_id", col("embedding"),
          signBits = 8, threshold = 0.3, maxBucket = LshMaxBucket,
          probes = 4)))
    val ref2 = ref.unionByName(s1)
    Dedup.dropNearDupsAgainst(
      b2.select(col("vec_id"), col("label")), "vec_id",
      Dedup.cosineMatchedAgainst(b2, ref2, "vec_id", col("embedding"),
        signBits = 8, threshold = 0.3, maxBucket = LshMaxBucket,
        probes = 4))
  }

  /** q174: q46's kNN join probing the PERSISTED quantizer model (r19,
    * verdict task 2 — q171's write-then-read discipline applied to the
    * ANN artifact): [[registeredCentroids]] is fitted once, WRITTEN as
    * a cells × dims parquet table in the session catalog
    * ([[graft.sources.Artifacts.ensureTable]] — corpus fingerprint +
    * dir hash in the name, race-safe build), and the join reads the
    * centroids BACK FROM THE FILES — the model fetch is cells-sized,
    * and the fit never re-runs once the artifact exists (where q46's
    * self-contained in-query fit re-pays it per session). float32
    * round-trips parquet bit-exactly and the read is cid-sorted (the
    * nearest-centroid tie rule is order-sensitive), so the probe is
    * IDENTICAL to q46 — same inputs, same k/nProbe/guard, IDENTICAL
    * oracle SQL (one truth, two plans: in-query fit vs persisted
    * artifact — the q171 ≡ q168 convention). ScaleProbe
    * `ivf_model_build` vs `knn_probe_persisted_model` separates the
    * build cost this artifact amortizes from the per-batch probe. */
  private def qKnnPersisted(s: SparkSession, dir: String): DataFrame = {
    val mdlTable = ivfModelTable(dir)
    graft.sources.Artifacts.ensureTable(s, mdlTable,
        path = s"/tmp/graft_ivf_model/$mdlTable") {
      import s.implicits._
      registeredCentroids(s, dir)
        .map { case (cid, v) => (cid, v.toSeq) }.toDF("cid", "cvec")
    }
    val cents = s.table(mdlTable).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      .toSeq.sortBy(_._1)
    Similarity.knnJoinIvf(cpuTable(s, dir, "embeddings"), "vec_id",
      "embedding", k = 3, centroids = cents, nProbe = IvfProbe,
      maxCellOccupancy = LshMaxBucket)
  }

  // ------------------------------------------------------------------ //

  /** The registered names a comma-separated selection `only` (read from
    * the env knob `knob`) picks, sorted; every name when `only` is
    * None. Blank entries are ignored. A name that matches no registered
    * query fails fast, naming every such entry: a typo must not shrink
    * a run silently. */
  def selectQueries(registered: Iterable[String], only: Option[String],
      knob: String): Seq[String] = {
    val all = registered.toSeq.sorted
    only.fold(all) { spec =>
      val want = spec.split(",").map(_.trim).filter(_.nonEmpty).toSet
      val unknown = want -- all
      require(unknown.isEmpty,
        s"$knob names unregistered queries: ${unknown.toSeq.sorted.mkString(", ")}")
      require(want.nonEmpty, s"$knob selects no query")
      all.filter(want)
    }
  }

  /** The registered query surface. Deterministic, self-contained, and
    * side-effect-free per run — with one DOCUMENTED exception (r18
    * verdict item): the ARTIFACT-PROBE queries q171_span_cut_indexed
    * and q174_knn_persisted write a warehouse table on their FIRST run
    * per session catalog ([[graft.sources.Artifacts.ensureTable]] —
    * build-once, `synchronized` so parallel query execution cannot
    * race the build, name pinned to corpus fingerprint + dir). Their
    * first execution pays the build (benchers: the first rep carries
    * it; min-of-reps reads the probe); every later run only reads. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q35_pipeline" -> (qPipeline _),
    "q36_fold_agg" -> (qFoldAgg _),
    "q01_agg_pricing" -> (q01 _),
    "q02_join_global_inner" -> ((s: SparkSession, d: String) => qGlobal(s, d, JoinType.Inner, partFiltered = false)),
    "q03_join_global_left" -> ((s: SparkSession, d: String) => qGlobal(s, d, JoinType.Left, partFiltered = true)),
    "q04_join_ss_inner" -> ((s: SparkSession, d: String) => qSS(s, d, JoinType.Inner)),
    "q05_join_ss_left" -> ((s: SparkSession, d: String) => qSS(s, d, JoinType.Left)),
    "q06_join_ss_outer" -> ((s: SparkSession, d: String) => qSS(s, d, JoinType.Outer)),
    "q07_join_tt_inner" -> ((s: SparkSession, d: String) => qTT(s, d, JoinType.Inner, filterOrders = false, filterCust = false)),
    "q08_join_tt_left" -> ((s: SparkSession, d: String) => qTT(s, d, JoinType.Left, filterOrders = false, filterCust = true)),
    "q09_join_tt_outer" -> ((s: SparkSession, d: String) => qTT(s, d, JoinType.Outer, filterOrders = true, filterCust = true)),
    "q10_asof_left" -> ((s: SparkSession, d: String) => qAsOf(s, d, JoinType.Left)),
    "q11_asof_inner" -> ((s: SparkSession, d: String) => qAsOf(s, d, JoinType.Inner)),
    "q12_agg_running" -> (qRunning _),
    "q13_window_tumbling" -> ((s: SparkSession, d: String) => qTimeWindow(s, d, 86400000L, 86400000L)),
    "q14_window_hopping" -> ((s: SparkSession, d: String) => qTimeWindow(s, d, 2 * 86400000L, 86400000L)),
    "q15_window_session" -> (qSession _),
    "q16_latest_per_key" -> (qLatest _),
    "q17_merge" -> (qMerge _),
    "q18_nary_join" -> (qNary _),
    "q19_flatmap" -> (qFlatMap _),
    "q20_rekey_agg" -> (qRekey _),
    "q21_dedup_exact" -> (qDedupExact _),
    "q22_dedup_latest" -> (qDedupLatest _),
    "q23_dedup_ngram" -> (qDedupNgram _),
    "q24_dedup_minhash" -> (qDedupMinhash _),
    "q25_dedup_simhash" -> (qDedupSimhash _),
    "q26_sim_topk" -> (qSimTopK _),
    "q27_sim_lsh" -> (qSimLsh _),
    "q28_cosine_neardup" -> (qCosineNearDup _),
    "q37_sim_ivf" -> (qSimIvf _),
    "q38_dedup_normalized" -> (qDedupNormalized _),
    "q39_dedup_drop_normalized" -> (qDedupDropNormalized _),
    "q29_text_quality" -> (qTextQuality _),
    "q30_text_langid" -> (qLangId _),
    "q31_token_count" -> (qTokenCount _),
    "q32_fingerprint" -> (qFingerprint _),
    "q33_json_props" -> (qJson _),
    "q34_multimodal" -> (qMultimodal _),
    "q40_salted_join" -> (qSaltedJoin _),
    "q41_range_join" -> (qRangeJoin _),
    "q42_topn_per_group" -> (qTopNPerGroup _),
    "q43_rollup" -> (qRollup _),
    "q44_hash_split" -> (qHashSplit _),
    "q45_sketch_profile" -> (qSketchProfile _),
    "q46_knn_join" -> (qKnnJoin _),
    "q47_neardup_clusters" -> (qNearDupClusters _),
    "q48_lag_lead" -> (qLagLead _),
    "q49_set_ops" -> (qSetOps _),
    "q50_pack_sequences" -> (qPackSequences _),
    "q51_decontam" -> (qDecontam _),
    "q52_heavy_keys" -> (qHeavyKeys _),
    "q53_repetition_quality" -> (qRepetition _),
    "q54_pii_scrub" -> (qPiiScrub _),
    "q55_temperature_resample" -> (qTemperatureResample _),
    "q56_chunk_dedup" -> (qChunkDedup _),
    "q57_shuffle_shards" -> (qShuffleShards _),
    "q58_token_rarity" -> (qTokenRarity _),
    "q59_boilerplate" -> (qBoilerplate _),
    "q60_mixture_budget" -> (qMixtureBudget _),
    "q61_quantize_int8" -> (qQuantizeInt8 _),
    "q62_knn_quantized" -> (qKnnQuantized _),
    "q63_dedup_incremental" -> (qDedupIncremental _),
    "q64_semantic_dedup" -> (qSemanticDedup _),
    "q65_hashed_score" -> (qHashedScore _),
    "q66_cosine_incremental" -> (qCosineIncremental _),
    "q67_vocab_topk" -> (qVocabTopK _),
    "q68_leakage_split" -> (qLeakageSplit _),
    "q69_filter_funnel" -> (qFilterFunnel _),
    "q70_dedup_keep_best" -> (qDedupKeepBest _),
    "q71_cap_per_source" -> (qCapPerSource _),
    "q72_sessionize" -> (qSessionize _),
    "q73_event_funnel" -> (qEventFunnel _),
    "q74_trailing_window" -> (qTrailingWindow _),
    "q75_retention_cohorts" -> (qRetentionCohorts _),
    "q76_group_outliers" -> (qOutliers _),
    "q77_dedup_ingest" -> (qDedupIngest _),
    "q78_cosine_ingest" -> (qCosineIngest _),
    "q79_chunk_windows" -> (qChunkWindows _),
    "q80_label_centroids" -> (qCentroids _),
    "q81_quantile_buckets" -> (qQuantileBuckets _),
    "q82_bm25_topk" -> (qBm25TopK _),
    "q83_winnow_pairs" -> (qWinnowPairs _),
    "q84_cooccur_topk" -> (qCooccurTopK _),
    "q85_drift_by_group" -> (qDrift _),
    "q86_attribution" -> (qAttribution _),
    "q87_winsorized_mean" -> (qWinsorized _),
    "q88_quality_check" -> (qQualityCheck _),
    "q89_asof_forward" -> ((s: SparkSession, d: String) => qAsOfDir(s, d, nearest = false)),
    "q90_asof_nearest" -> ((s: SparkSession, d: String) => qAsOfDir(s, d, nearest = true)),
    "q91_curation_e2e" -> (qCurationE2E _),
    "q92_random_project" -> (qRandomProject _),
    "q93_concurrency" -> (qConcurrency _),
    "q94_snapshot_diff" -> (qSnapshotDiff _),
    "q95_lm_score" -> (qLmScore _),
    "q96_dsir_weights" -> (qDsirWeights _),
    "q97_source_card" -> (qSourceCard _),
    "q98_kmeans_step" -> (qKmeansStep _),
    "q99_transitions" -> (qTransitions _),
    "q100_threshold_sweep" -> (qThresholdSweep _),
    "q101_bpe_pairs" -> (qBpePairs _),
    "q102_activity_profile" -> (qActivityProfile _),
    "q103_weighted_cap" -> (qWeightedCap _),
    "q104_keywords_tfidf" -> (qKeywords _),
    "q105_script_mix" -> (qScriptMix _),
    "q106_label_prop" -> (qLabelProp _),
    "q107_percentile_gate" -> (qPercentileGate _),
    "q108_asof_within" -> (qAsOfWithin _),
    "q109_json_ingest" -> (qJsonIngest _),
    "q110_exact_sample" -> (qExactSample _),
    "q111_hard_negatives" -> (qHardNegatives _),
    "q112_decayed_score" -> (qDecayedScore _),
    "q113_knn_pagerank" -> (qKnnPageRank _),
    "q114_scd2_history" -> (qScd2 _),
    "q115_top_journeys" -> (qTopJourneys _),
    "q116_daily_spikes" -> (qDailySpikes _),
    "q117_user_lifecycle" -> (qUserLifecycle _),
    "q118_embedding_e2e" -> (qEmbeddingE2E _),
    "q119_repeat_suppression" -> (qRepeatSuppression _),
    "q120_budget_fill" -> (qBudgetFill _),
    "q121_fk_audit" -> (qFkAudit _),
    "q122_daily_trending" -> (qDailyTrending _),
    "q123_cube_summary" -> (qCubeSummary _),
    "q124_interval_overlap" -> (qIntervalOverlap _),
    "q125_token_entropy" -> (qTokenEntropy _),
    "q126_covisitation" -> (qCovisitation _),
    "q127_median_mad" -> (qMedianMad _),
    "q128_source_overlap" -> (qSourceOverlap _),
    "q129_rolling_active" -> (qRollingActive _),
    "q130_stratified_sample" -> (qStratifiedSample _),
    "q131_percentile_digest" -> (qPercentileDigest _),
    "q132_session_stats" -> (qSessionStats _),
    "q133_knn_triangles" -> (qKnnTriangles _),
    "q134_lang_confusion" -> (qLangConfusion _),
    "q135_split_audit" -> (qSplitAudit _),
    "q136_edit_join" -> (qEditJoin _),
    "q137_ann_recall" -> (qAnnRecall _),
    "q138_containment" -> (qContainment _),
    "q139_edit_blocked" -> (qEditBlocked _),
    "q140_kcore" -> (qKCore _),
    "q141_phrase_search" -> (qPhraseSearch _),
    "q142_lsh_eval" -> (qLshEval _),
    "q143_dup_lang_matrix" -> (qDupLangMatrix _),
    "q144_normalize_text" -> (qNormalizeText _),
    "q145_score_auc" -> (qScoreAuc _),
    "q146_ab_test" -> (qAbTest _),
    "q147_target_encoding" -> (qTargetEncoding _),
    "q148_conversion_ab" -> (qConversionAb _),
    "q149_eval_card" -> (qEvalCard _),
    "q150_auc_hist" -> (qAucHist _),
    "q151_calibration" -> (qCalibration _),
    "q152_count_encoding" -> (qCountEncoding _),
    "q153_funnel_latency" -> (qFunnelLatency _),
    "q154_dup_histogram" -> (qDupHistogram _),
    "q155_kmeans_fit" -> (qKmeansFit _),
    "q156_ivf_fitted" -> (qIvfFitted _),
    "q157_cc_incremental" -> (qCcIncremental _),
    "q158_hybrid_rrf" -> (qHybridRrf _),
    "q159_mmr_diversify" -> (qMmrDiversify _),
    "q160_ivf_drift" -> (qIvfDrift _),
    "q161_ivf_refit" -> (qIvfRefit _),
    "q162_cluster_card" -> (qClusterCard _),
    "q163_dup_spans" -> (qDupSpans _),
    "q164_span_cut" -> (qSpanCut _),
    "q165_knn_sampled_fit" -> (qKnnSampledFit _),
    "q166_knn_two_level" -> (qKnnTwoLevel _),
    "q169_knn_split" -> (qKnnSplit _),
    "q170_curation_span" -> (qCurationSpan _),
    "q171_span_cut_indexed" -> (qSpanCutIndexed _),
    "q172_ivf_occupancy" -> (qIvfOccupancy _),
    "q173_knn_auto" -> (qKnnAuto _),
    "q177_knn_auto_two_level" -> (qKnnAutoTwoLevel _),
    "q178_seed_coverage" -> (qSeedCoverage _),
    "q174_knn_persisted" -> (qKnnPersisted _),
    "q175_span_index_update" -> (qSpanIndexUpdate _),
    "q176_vector_corpus_update" -> (qVectorCorpusUpdate _),
    "q167_mmr_local" -> (qMmrLocal _),
    "q168_span_cut_ingest" -> (qSpanCutIngest _),
  )

  // ------------------------------------------------------------------ //
  //  DuckDB oracle twins                                                //
  // ------------------------------------------------------------------ //

  /** Shared SQL fragments for the shingle/minhash/simhash oracles — built
    * from the same constants as the Scala operators so they cannot drift. */
  private object OSql {
    val P = Dedup.MinHashP
    /** The q30 langid decision as one SQL CASE over `text` — marker
      * occurrence sums per language, argmax with the positive-score
      * guard, 'und' fallback (mirrors [[TextAnalysis.langId]]). */
    val langCase: String = {
      def occ(m: String) = {
        val esc = m.replace("'", "''")
        s"(length(' '||text||' ') - length(replace(' '||text||' ', '$esc', ''))) // ${m.length}"
      }
      val scores = TextAnalysis.LangMarkers.map { case (l, ms) =>
        l -> ms.map(occ).mkString("(", " + ", ")")
      }
      val best = scores.map(_._2).mkString("greatest(", ", ", ")")
      val cases = scores.map { case (l, sc) =>
        s"WHEN $sc > 0 AND $sc = $best THEN '$l'"
      }.mkString("\n ")
      s"CASE\n $cases\n ELSE 'und' END"
    }
    val shingleCte =
      """WITH w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
        |s0 AS (SELECT doc_id, CASE WHEN len(ws) >= 3 THEN list_distinct(list_transform(generate_series(1, len(ws)-2), i -> array_to_string(ws[i:i+2], ' '))) ELSE [] END AS shs FROM w),
        |sh AS (SELECT doc_id, len(shs) AS nsh, unnest(shs) AS sh FROM s0)""".stripMargin
    def perm(i: Int) = s"min(((h%$P)*${2 * i + 1} + ${12289L * (i + 1)}) % $P) AS s$i"
    val sigCte =
      s"""h AS (SELECT doc_id, nsh, CAST(('0x'||substr(md5(sh),1,15)) AS BIGINT) AS h FROM sh),
         |sig AS (SELECT doc_id, ${(0 until 8).map(perm).mkString(", ")} FROM h GROUP BY doc_id)""".stripMargin
    def bkey(lo: Int) = (lo until lo + 4).map(i => s"s$i::VARCHAR").mkString("||','||")
    val simSums = (0 until 32).map(j =>
      s"SUM(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS s$j").mkString(", ")
    val simBits = (0 until 32).map(j =>
      s"(CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
    /** The reference-side multi-probe registration cells of q66/q78
      * (assumes a CTE `b0` carrying embeddings + their own-cell `bkt`):
      * the vec_id % 4 == 0 index rows, each under its own cell PLUS
      * the xor-flips of its `probes − 1` smallest-|component| dims
      * among the first 8 — [[graft.ops.Similarity.probeCells]]' exact
      * order (abs asc, dim asc). Emits CTEs `rb`/`rx`/`rall`. */
    def refProbeCte(probes: Int): String =
      s"""rb AS (SELECT vec_id, label, embedding, bkt FROM b0 WHERE vec_id % 4 = 0),
        |rx AS (SELECT vec_id, label, embedding,
        |    xor(bkt, CAST(power(2, i) AS BIGINT)) AS bkt
        |  FROM (SELECT rb.*, t.i, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY abs(embedding[t.i + 1]) ASC, t.i ASC) AS rnk
        |    FROM rb, range(0, 8) t(i)) WHERE rnk <= ${probes - 1}),
        |rall AS (SELECT * FROM rb UNION ALL SELECT vec_id, label, embedding, bkt FROM rx),""".stripMargin
    /** q64's semantic-dedup CTE chain through `p` (scored members +
      * best-probed-representative cosines) and `cap` (capped-cell
      * passthrough) — shared by q64 and the q118 composition. Reps
      * register under their `SemProbes` probe cells (flips of the
      * smallest-|embedding component| dims among the first 8 — the
      * probeCells order, as in q66's refProbeCte); each member keeps
      * its one own-cell key and is judged against the best probed rep
      * (max cosine, ties to the lowest rep id). */
    def semDedupCtes: String =
      s"""qz AS (SELECT vec_id, embedding,
        |    list_max(list_transform(embedding,
        |      x -> abs(CAST(x AS DOUBLE)))) AS s
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |qv AS (SELECT vec_id, embedding,
        |    CASE WHEN s = 0 THEN list_transform(embedding,
        |           x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(embedding,
        |           x -> CAST(round(CAST(x AS DOUBLE) * 127 / s) AS BIGINT))
        |    END AS q
        |  FROM qz),
        |b0 AS (SELECT vec_id, q, ${(0 until 8).map(i =>
             s"(CASE WHEN embedding[${i + 1}] >= 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")} AS bkt,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(q, x -> x * x)), (a, x) -> a + x) AS nsq
        |  FROM qv),
        |cnt AS (SELECT bkt, count(*) AS n FROM b0 GROUP BY bkt),
        |m AS (SELECT b0.* FROM b0 JOIN cnt USING (bkt) WHERE n <= $LshMaxBucket),
        |cap AS (SELECT b0.* FROM b0 JOIN cnt USING (bkt) WHERE n > $LshMaxBucket),
        |e0 AS (SELECT vec_id, bkt, q,
        |    unnest(generate_series(0, len(q) - 1)) AS pos FROM m),
        |e AS (SELECT vec_id, bkt, pos, q[pos + 1] AS qd FROM e0),
        |c AS (SELECT bkt, pos, sum(qd) AS cd FROM e GROUP BY bkt, pos),
        |d AS (SELECT e.vec_id, sum(e.qd * c.cd) AS dot
        |  FROM e JOIN c USING (bkt, pos) GROUP BY e.vec_id),
        |sc AS (SELECT m.vec_id, m.bkt, m.q, m.nsq,
        |    CASE WHEN m.nsq = 0 THEN -1e18 ELSE dot / sqrt(m.nsq) END AS score
        |  FROM m JOIN d USING (vec_id)),
        |k AS (SELECT bkt, vec_id AS kid, q AS kq, nsq AS knsq FROM sc
        |  QUALIFY row_number() OVER (PARTITION BY bkt
        |    ORDER BY score DESC, vec_id ASC) = 1),
        |ke AS (SELECT k.*, e.embedding FROM k JOIN qv e ON k.kid = e.vec_id),
        |kx AS (SELECT kid, kq, knsq, xor(bkt, CAST(power(2, i) AS BIGINT)) AS bkt
        |  FROM (SELECT ke.*, t.i, row_number() OVER (PARTITION BY kid
        |      ORDER BY abs(embedding[t.i + 1]) ASC, t.i ASC) AS rnk
        |    FROM ke, range(0, 8) t(i)) WHERE rnk <= $SemProbes - 1),
        |kall AS (SELECT bkt, kid, kq, knsq FROM k
        |  UNION ALL SELECT bkt, kid, kq, knsq FROM kx),
        |pc AS (SELECT sc.vec_id, sc.bkt, sc.nsq, kall.kid,
        |    CASE WHEN sc.nsq = 0 OR kall.knsq = 0 THEN 0.0
        |         ELSE round(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |             list_transform(list_zip(sc.q, kall.kq), x -> x[1] * x[2])),
        |             (a, x) -> a + x)
        |           / (sqrt(sc.nsq) * sqrt(kall.knsq)), 6)
        |    END AS cr
        |  FROM sc JOIN kall USING (bkt)),
        |pb AS (SELECT * FROM pc QUALIFY row_number() OVER (PARTITION BY vec_id
        |    ORDER BY cr DESC, kid ASC) = 1),
        |rk AS (SELECT DISTINCT vec_id FROM pc
        |  WHERE cr >= 0.35 AND kid < vec_id),
        |p AS (SELECT pb.vec_id, pb.bkt, (pb.vec_id = k.kid) AS is_rep, pb.nsq,
        |    pb.cr AS cos_rep,
        |    (pb.vec_id IN (SELECT vec_id FROM rk)) AS killed
        |  FROM pb JOIN k USING (bkt))
        |""".stripMargin.trim

    /** The sign-bucket key over the first `bits` dims — [[graft.ops
      * .Similarity.signBucket]]'s exact DuckDB form. */
    def bktSql(bits: Int): String = (0 until bits).map(i =>
      s"(CASE WHEN embedding[${i + 1}] >= 0 THEN ${1L << i} ELSE 0 END)")
      .mkString(" + ")

    /** The query-side multi-probe cell list (all cells within Hamming
      * `h` of an existing `bkt` column) as a DuckDB list literal —
      * [[graft.ops.Similarity.hammingProbes]]' exact set. */
    def probeSql(bits: Int, h: Int): String = {
      val h1 = (0 until bits).map(i => s", xor(bkt, ${1L << i})")
      val h2 = for { i <- 0 until bits; j <- (i + 1) until bits }
        yield s", xor(bkt, ${(1L << i) | (1L << j)})"
      "[bkt" + (if (h >= 1) h1.mkString else "") +
        (if (h >= 2) h2.mkString else "") + "]"
    }

    /** The q82 BM25 scoring chain through `sc` (query_id, doc_id,
      * score) — rational IDF × tf saturation, round-6dp decimal term
      * sum, the [[graft.ops.Retrieval.bm25TopK]] arithmetic verbatim.
      * Shared by q82's top-10 and q158's hybrid-fusion lexical arm. */
    val bm25Ctes: String =
      """t0 AS (SELECT doc_id,
        |   unnest(string_split(text, ' ')) AS tok FROM documents),
        |t AS (SELECT doc_id, tok FROM t0 WHERE len(tok) > 0),
        |dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY 1),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |   CAST(sum(dl) AS DOUBLE) AS len FROM dl),
        |q AS (SELECT doc_id AS query_id,
        |   array_to_string((string_split(text, ' '))[1:6], ' ') AS qtext
        | FROM documents WHERE doc_id < 5),
        |qt AS (SELECT DISTINCT query_id, tok FROM
        |   (SELECT query_id, unnest(string_split(qtext, ' ')) AS tok
        |    FROM q) WHERE len(tok) > 0),
        |post AS (SELECT doc_id, tok, count(*) AS tf FROM t
        | WHERE tok IN (SELECT tok FROM qt) GROUP BY 1, 2),
        |dfq AS (SELECT tok, count(*) AS df FROM post GROUP BY 1),
        |term AS (SELECT qt.query_id, p.doc_id,
        |   CAST(round(
        |     ((st.n - CAST(dfq.df AS DOUBLE) + 0.5::DOUBLE)
        |       / (CAST(dfq.df AS DOUBLE) + 0.5::DOUBLE))
        |     * (CAST(p.tf AS DOUBLE) * (1.2::DOUBLE + 1.0::DOUBLE)
        |        / (CAST(p.tf AS DOUBLE) + 1.2::DOUBLE
        |           * (0.25::DOUBLE + 0.75::DOUBLE
        |              * (CAST(dl.dl AS DOUBLE) * st.n / st.len)))),
        |     6) AS DECIMAL(18,6)) AS ts
        | FROM post p JOIN dl USING (doc_id) CROSS JOIN st
        |   JOIN dfq USING (tok) JOIN qt USING (tok)),
        |sc AS (SELECT query_id, doc_id, CAST(sum(ts) AS DOUBLE) AS score
        | FROM term GROUP BY 1, 2)""".stripMargin

    /** The 6-dp cosine fold, identical to CosineSim's sequential order. */
    def cosSql(a: String, b: String): String =
      s"""round(list_reduce(list_prepend(0.0, list_transform(list_zip($a, $b),
         |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), (acc, v) -> acc + v)
         |   / (sqrt(list_reduce(list_prepend(0.0, list_transform($a,
         |        v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), (acc, v) -> acc + v))
         |    * sqrt(list_reduce(list_prepend(0.0, list_transform($b,
         |        v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), (acc, v) -> acc + v))), 6)""".stripMargin
  }

  /** q155/q156's k-means fit unrolled: CTE chain `c0 → c<iters>`
    * mirroring [[graft.ops.Similarity.kmeansFitInt8]] exactly — per
    * round, assignment by round-6dp cosine against the PREVIOUS round's
    * centroids (ties lowest cid; DuckDB sorts NaN first under DESC,
    * matching NearestCentroid's zero-vector rule), update = the exact
    * int8 component sums CAST to FLOAT (IEEE round-to-nearest on both
    * engines), empty clusters keeping their previous centroid via the
    * LEFT JOIN coalesce. Quantization (kqv) is per-vector and computed
    * once, as in the engine. */
  private def kmeansFitCtes(iters: Int, kc: Int = 8,
      pred: String = "TRUE", seedLimit: Boolean = false,
      kcSql: String = null, seedPred: String = null): String = {
    // three seed conventions: vec_id < kc (the fixture default — ids
    // are dense so the bound IS the kc lowest) vs ORDER BY vec_id
    // LIMIT kc (the kc lowest rows SATISFYING the seed predicate —
    // required when it is a hash sample, where a fixed id bound would
    // yield a fraction-dependent seed count; q165's convention) vs
    // kcSql (the registered default: the seed COUNT itself is a scalar
    // subquery deriving cells from the corpus count — [[CellsSql]] —
    // so the oracle's geometry grows with the data exactly like the
    // engine's [[registeredCells]]). `seedPred` decouples WHERE the
    // seeds come from (r19: the FULL corpus — pass "TRUE") from WHERE
    // the fit rounds read (`pred` — the hash sample); defaults to
    // `pred`, the pre-r19 coupling.
    val sp = if (seedPred != null) seedPred else pred
    val c0 =
      if (kcSql != null)
        s"""c0 AS (SELECT vec_id AS cid, embedding AS cvec
          |  FROM embeddings WHERE ($sp)
          |  QUALIFY row_number() OVER (ORDER BY vec_id) <= $kcSql),""".stripMargin
      else if (seedLimit)
        s"""c0 AS (SELECT vec_id AS cid, embedding AS cvec
          |  FROM embeddings WHERE ($sp) ORDER BY vec_id LIMIT $kc),""".stripMargin
      else
        s"""c0 AS (SELECT vec_id AS cid, embedding AS cvec
          |  FROM embeddings WHERE vec_id < $kc AND ($sp)),""".stripMargin
    val head = c0 + "\n" +
      s"""kee AS (SELECT vec_id, embedding FROM embeddings
        |  WHERE embedding IS NOT NULL AND ($pred)),
        |kqz AS (SELECT vec_id, embedding, list_max(list_transform(embedding,
        |    x -> abs(CAST(x AS DOUBLE)))) AS s FROM kee),
        |kqv AS (SELECT vec_id, embedding,
        |    CASE WHEN s = 0 THEN list_transform(embedding,
        |           x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(embedding,
        |           x -> CAST(round(CAST(x AS DOUBLE) * 127 / s) AS BIGINT))
        |    END AS q FROM kqz)""".stripMargin
    val rounds = (1 to iters).map { i =>
      s"""ka${i}0 AS (SELECT kqv.vec_id, kqv.q, c.cid,
         |  ${OSql.cosSql("kqv.embedding", "c.cvec")} AS cc
         | FROM kqv CROSS JOIN c${i - 1} c),
         |ka$i AS (SELECT vec_id, q, cid FROM ka${i}0
         |  QUALIFY row_number() OVER (PARTITION BY vec_id
         |    ORDER BY cc DESC, cid ASC) = 1),
         |ke$i AS (SELECT cid, pos, q[pos + 1] AS qd FROM (
         |   SELECT cid, q, unnest(generate_series(0, len(q) - 1)) AS pos
         |   FROM ka$i)),
         |kcs$i AS (SELECT cid, pos, CAST(sum(qd) AS BIGINT) AS cd
         |  FROM ke$i GROUP BY 1, 2),
         |karr$i AS (SELECT cid, list(CAST(cd AS FLOAT) ORDER BY pos) AS nv
         |  FROM kcs$i GROUP BY 1),
         |c$i AS (SELECT c.cid, coalesce(karr$i.nv, c.cvec) AS cvec
         |  FROM c${i - 1} c LEFT JOIN karr$i USING (cid))""".stripMargin
    }
    (head +: rounds).mkString(",\n")
  }

  /** q46/q62's fitted-IVF skeleton — since r18 the DERIVED/SAMPLED
    * registered geometry (verdict task 1): [[kmeansFitCtes]](2) with
    * the cell count a corpus-count scalar ([[CellsSql]]) and the fit
    * restricted to the [[SamplePredSql]] hash sample (seeds = the
    * derived-count lowest SAMPLED ids); then FULL-corpus per-vector
    * quantization (fqv — the fit's kqv now covers only the sample),
    * cell assignment (vcell) and the nProbe-deep query probe list
    * (vprobe) against the fitted centroids c2 — same comparator
    * everywhere (round-6 cosine DESC, cid ASC; DuckDB's
    * NaN-first-under-DESC = the engine's zero-vector rule). fqv
    * carries both the float vectors (q46's scoring) and the int8
    * lists (q62's coarse scoring). No occupancy filter: the engine's
    * `maxCellOccupancy` guard FAIL-FASTS on an over-full cell instead
    * of dropping it (r17 — the r16 cap-masking fix), so when the query
    * runs at all, every cell participates; derived cells hold the
    * occupancy near [[TargetCellOcc]], far under [[LshMaxBucket]]. */
  private def ivfKnnCtes(nProbe: Int): String =
    s"""${kmeansFitCtes(2, pred = SamplePredSql, kcSql = CellsSql,
        seedPred = "TRUE")},
      |fqz AS (SELECT vec_id, embedding, list_max(list_transform(embedding,
      |    x -> abs(CAST(x AS DOUBLE)))) AS s FROM embeddings
      |  WHERE embedding IS NOT NULL),
      |fqv AS (SELECT vec_id, embedding,
      |    CASE WHEN s = 0 THEN list_transform(embedding,
      |           x -> CAST(0 AS BIGINT))
      |         ELSE list_transform(embedding,
      |           x -> CAST(round(CAST(x AS DOUBLE) * 127 / s) AS BIGINT))
      |    END AS q FROM fqz),
      |vass AS (SELECT fqv.vec_id, fqv.embedding, fqv.q, c.cid,
      |  ${OSql.cosSql("fqv.embedding", "c.cvec")} AS cc
      | FROM fqv CROSS JOIN c2 c),
      |vcell AS (SELECT vec_id, embedding, q, cid FROM vass
      |  QUALIFY row_number() OVER (PARTITION BY vec_id
      |    ORDER BY cc DESC, cid ASC) = 1),
      |vprobe AS (SELECT vec_id AS qid, embedding AS qv, q AS qq, cid
      |  FROM vass
      |  QUALIFY row_number() OVER (PARTITION BY vec_id
      |    ORDER BY cc DESC, cid ASC) <= $nProbe)""".stripMargin

  /** q47's recursive-CTE clustering — shared with q154's histogram. */
  private lazy val Sql_q47: String =
      s"""${OSql.shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
        |shh AS (SELECT doc_id, nsh, CAST(('0x'||substr(md5(sh),1,15)) AS BIGINT) AS sh FROM sh),
        |capped AS (SELECT * FROM (SELECT *, count(*) OVER (PARTITION BY sh) AS df FROM shh) WHERE df <= 100),
        |pairs AS (SELECT x.doc_id AS a, y.doc_id AS b
        | FROM capped x JOIN capped y ON x.sh = y.sh AND x.doc_id < y.doc_id
        | GROUP BY 1, 2, x.nsh, y.nsh
        | HAVING round(count(*)::DOUBLE / (x.nsh + y.nsh - count(*)), 6) >= 0.5),
        |edges AS (SELECT a, b FROM pairs UNION ALL SELECT b AS a, a AS b FROM pairs),
        |reach(id, lab) AS (
        | SELECT doc_id, doc_id FROM documents
        | UNION
        | SELECT e.a, r.lab FROM edges e JOIN reach r ON r.id = e.b)
        |SELECT id AS doc_id, min(lab) AS cluster FROM reach GROUP BY 1""".stripMargin

  /** Oracle bodies shared with the q149 eval-card composition. */
  private lazy val Sql_q137: String =
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv
        |    FROM embeddings WHERE vec_id < 25),
        |sc AS (SELECT q.qid, e.vec_id AS id,
        |  ${OSql.cosSql("e.embedding", "q.qv")} AS cos
        | FROM embeddings e, q),
        |bt AS (SELECT qid, id FROM sc QUALIFY row_number()
        |  OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) <= 10),
        |b AS (SELECT *, ${OSql.bktSql(AnnBits)} AS bkt
        |  FROM embeddings),
        |q0 AS (SELECT vec_id AS qid, embedding AS qv, bkt FROM b WHERE vec_id < 25),
        |qp AS (SELECT qid, qv,
        |  unnest(${OSql.probeSql(AnnBits, AnnHamming)}) AS bkt FROM q0),
        |asc0 AS (SELECT qp.qid, e.vec_id AS id,
        |  ${OSql.cosSql("e.embedding", "qp.qv")} AS cos
        | FROM b e JOIN qp ON e.bkt = qp.bkt),
        |ap AS (SELECT qid, id FROM asc0 QUALIFY row_number()
        |  OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) <= 10),
        |h AS (SELECT bt.qid, count(*) AS n_hit
        |  FROM bt JOIN ap ON bt.qid = ap.qid AND bt.id = ap.id GROUP BY 1),
        |f AS (SELECT qid, count(*) AS n_found FROM ap GROUP BY 1)
        |SELECT q.qid, CAST(coalesce(f.n_found, 0) AS BIGINT) AS n_found,
        |  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
        |  CAST((coalesce(h.n_hit, 0) * 10000) // 10 AS BIGINT) AS recall_bp
        |FROM q LEFT JOIN f ON q.qid = f.qid
        |  LEFT JOIN h ON q.qid = h.qid""".stripMargin

  private lazy val Sql_q142: String =
      s"""${OSql.shingleCte},
        |${OSql.sigCte},
        |bands0 AS (
        | SELECT doc_id, 0 AS band, ${OSql.bkey(0)} AS bkey FROM sig
        | UNION ALL SELECT doc_id, 1, ${OSql.bkey(4)} FROM sig),
        |bands AS (SELECT doc_id, band, bkey FROM bands0
        |  QUALIFY count(*) OVER (PARTITION BY band, bkey) <= $LshMaxBucket),
        |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |  FROM bands x JOIN bands y ON x.band = y.band AND x.bkey = y.bkey
        |  WHERE x.doc_id < y.doc_id),
        |capped AS (SELECT * FROM (SELECT *, count(*) OVER (PARTITION BY h)
        |    AS df FROM h) WHERE df <= 100),
        |tru AS (SELECT x.doc_id AS a, y.doc_id AS b
        |  FROM capped x JOIN capped y ON x.h = y.h AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2, x.nsh, y.nsh
        |  HAVING round(count(*)::DOUBLE / (x.nsh + y.nsh - count(*)), 6) >= 0.5),
        |j AS (SELECT coalesce(c.f, 0) AS c, coalesce(t.f, 0) AS t
        |  FROM (SELECT a, b, 1 AS f FROM cand) c
        |  FULL OUTER JOIN (SELECT a, b, 1 AS f FROM tru) t
        |    ON c.a = t.a AND c.b = t.b)
        |SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n_candidates,
        |  CAST(coalesce(sum(t), 0) AS BIGINT) AS n_true,
        |  CAST(coalesce(sum(c * t), 0) AS BIGINT) AS n_hit,
        |  CAST(CASE WHEN sum(c) > 0 THEN (sum(c * t) * 10000) // sum(c)
        |    ELSE -1 END AS BIGINT) AS precision_bp,
        |  CAST(CASE WHEN sum(t) > 0 THEN (sum(c * t) * 10000) // sum(t)
        |    ELSE -1 END AS BIGINT) AS recall_bp
        |FROM j""".stripMargin

  private lazy val Sql_q145: String =
      """WITH j AS (SELECT d.lang, d.n_chars AS s,
        |    CASE WHEN e.label < 5 THEN 1 ELSE 0 END AS y
        |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
        |r AS (SELECT lang, y,
        |    2 * rank() OVER (PARTITION BY lang ORDER BY s ASC)
        |      + count(*) OVER (PARTITION BY lang, s) - 1 AS r2 FROM j),
        |a AS (SELECT lang, CAST(sum(y) AS BIGINT) AS n_pos,
        |    CAST(count(*) - sum(y) AS BIGINT) AS n_neg,
        |    sum(CASE WHEN y = 1 THEN CAST(r2 AS HUGEINT) ELSE 0 END) AS rsum2
        |  FROM r GROUP BY 1)
        |SELECT lang, n_pos, n_neg,
        |  CAST(rsum2 - CAST(n_pos AS HUGEINT) * (n_pos + 1) AS BIGINT) AS u2,
        |  CAST(CASE WHEN n_pos > 0 AND n_neg > 0
        |    THEN ((rsum2 - CAST(n_pos AS HUGEINT) * (n_pos + 1)) * 5000)
        |      // (CAST(n_pos AS HUGEINT) * n_neg)
        |    ELSE -1 END AS BIGINT) AS auc_bp
        |FROM a""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q36_fold_agg" ->
      """SELECT user_id,
        | list_reduce(
        |   list_prepend(CAST(0 AS BIGINT),
        |     list(CAST(round(value * 100) AS BIGINT) ORDER BY ts)),
        |   (acc, v) -> (acc * 31 + v) % 1000000007) AS fold_hash
        |FROM events GROUP BY user_id""".stripMargin,
    // keepFirst orders by (ts, key=event_id, ...) at Spark's µs-floored
    // view of the NANOS ts — order at the same precision with the unique
    // event_id tiebreak so a future DuckDB that reads TIMESTAMP_NS
    // natively can't pick a different survivor on sub-µs ties
    "q35_pipeline" ->
      """SELECT event_id, user_id, event_type,
        | CAST(json_extract_string(props, '$.k') AS INT) AS k_val,
        | value AS amount
        |FROM events WHERE value >= 1.0
        |QUALIFY row_number() OVER (
        |  PARTITION BY user_id, event_type ORDER BY CAST(ts AS TIMESTAMP), event_id) = 1""".stripMargin,
    "q01_agg_pricing" ->
      s"""SELECT l_returnflag, l_linestatus,
        | ${dsumSql("l_quantity")} AS sum_qty,
        | ${dsumSql("l_extendedprice")} AS sum_base_price,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        | ${dsumSql("l_quantity")} / COUNT(*) AS avg_qty,
        | COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q02_join_global_inner" ->
      """SELECT l.l_orderkey, l.l_quantity, p.p_brand, p.p_retailprice
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey""".stripMargin,

    "q03_join_global_left" ->
      """SELECT l.l_orderkey, l.l_quantity, p.p_brand, p.p_retailprice
        |FROM lineitem l LEFT JOIN (SELECT * FROM part WHERE p_size > 25) p
        |ON l.l_partkey = p.p_partkey""".stripMargin,

    "q04_join_ss_inner" ->
      """SELECT a.user_id, a.value AS click_val, b.value AS view_val,
        | epoch_us(greatest(a.ts, b.ts)) AS ts_us
        |FROM (SELECT * FROM events WHERE event_type = 'click') a
        |JOIN (SELECT * FROM events WHERE event_type = 'view') b
        |ON a.user_id = b.user_id
        | AND b.ts >= a.ts - INTERVAL 30 MINUTE AND b.ts <= a.ts + INTERVAL 30 MINUTE""".stripMargin,

    "q05_join_ss_left" ->
      """SELECT a.user_id, a.value AS click_val, b.value AS view_val,
        | epoch_us(CASE WHEN b.ts IS NULL THEN a.ts ELSE greatest(a.ts, b.ts) END) AS ts_us
        |FROM (SELECT * FROM events WHERE event_type = 'click') a
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') b
        |ON a.user_id = b.user_id
        | AND b.ts >= a.ts - INTERVAL 30 MINUTE AND b.ts <= a.ts + INTERVAL 30 MINUTE""".stripMargin,

    "q06_join_ss_outer" ->
      """SELECT coalesce(a.user_id, b.user_id) AS user_id,
        | a.value AS click_val, b.value AS view_val,
        | epoch_us(CASE WHEN b.ts IS NULL THEN a.ts WHEN a.ts IS NULL THEN b.ts
        |   ELSE greatest(a.ts, b.ts) END) AS ts_us
        |FROM (SELECT * FROM events WHERE event_type = 'click') a
        |FULL JOIN (SELECT * FROM events WHERE event_type = 'view') b
        |ON a.user_id = b.user_id
        | AND b.ts >= a.ts - INTERVAL 30 MINUTE AND b.ts <= a.ts + INTERVAL 30 MINUTE""".stripMargin,

    "q07_join_tt_inner" ->
      s"""SELECT o.o_custkey AS custkey, o.order_cnt, o.total_spent, c.c_acctbal
        |FROM (SELECT o_custkey, COUNT(*) AS order_cnt,
        |        ${dsumSql("o_totalprice")} AS total_spent
        |      FROM orders GROUP BY o_custkey) o
        |JOIN customer c ON o.o_custkey = c.c_custkey""".stripMargin,

    "q08_join_tt_left" ->
      s"""SELECT o.o_custkey AS custkey, o.order_cnt, o.total_spent, c.c_acctbal
        |FROM (SELECT o_custkey, COUNT(*) AS order_cnt,
        |        ${dsumSql("o_totalprice")} AS total_spent
        |      FROM orders GROUP BY o_custkey) o
        |LEFT JOIN (SELECT * FROM customer WHERE c_custkey % 3 = 0) c
        |ON o.o_custkey = c.c_custkey""".stripMargin,

    "q09_join_tt_outer" ->
      s"""SELECT coalesce(o.o_custkey, c.c_custkey) AS custkey,
        | o.order_cnt, o.total_spent, c.c_acctbal
        |FROM (SELECT o_custkey, COUNT(*) AS order_cnt,
        |        ${dsumSql("o_totalprice")} AS total_spent
        |      FROM orders WHERE o_custkey % 2 = 0 GROUP BY o_custkey) o
        |FULL JOIN (SELECT * FROM customer WHERE c_custkey % 3 = 0) c
        |ON o.o_custkey = c.c_custkey""".stripMargin,

    "q10_asof_left" ->
      """SELECT p.user_id, p.value AS purchase_val, s.value AS signup_val,
        | epoch_us(p.ts) AS ts_us
        |FROM (SELECT user_id, value, ts FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT user_id, value, ts FROM events WHERE event_type = 'signup') s
        |ON p.user_id = s.user_id AND p.ts >= s.ts""".stripMargin,

    "q11_asof_inner" ->
      """SELECT p.user_id, p.value AS purchase_val, s.value AS signup_val,
        | epoch_us(p.ts) AS ts_us
        |FROM (SELECT user_id, value, ts FROM events WHERE event_type = 'purchase') p
        |ASOF JOIN (SELECT user_id, value, ts FROM events WHERE event_type = 'signup') s
        |ON p.user_id = s.user_id AND p.ts >= s.ts""".stripMargin,

    "q12_agg_running" ->
      """SELECT user_id, epoch_us(ts) AS ts_us,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER
        |   (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS run_sum
        |FROM events""".stripMargin,

    "q13_window_tumbling" ->
      s"""SELECT user_id, (epoch_ms(ts) // 86400000) * 86400000 AS ws,
        | COUNT(*) AS cnt, ${dsumSql("value")} AS sum_val
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q14_window_hopping" ->
      s"""SELECT user_id, (epoch_ms(ts) // 86400000 - g.k) * 86400000 AS ws,
        | COUNT(*) AS cnt, ${dsumSql("value")} AS sum_val
        |FROM events, (SELECT unnest([0, 1]) AS k) g GROUP BY 1, 2""".stripMargin,

    "q15_window_session" ->
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
        |FROM s GROUP BY user_id, sid""".stripMargin,

    "q16_latest_per_key" ->
      """SELECT user_id, event_type AS last_type, value AS last_val,
        | epoch_us(ts) AS ts_us
        |FROM events
        |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC) = 1""".stripMargin,

    "q17_merge" ->
      """SELECT user_id, 'click' AS tag, value * 2 AS amount, epoch_us(ts) AS ts_us
        |FROM events WHERE event_type = 'click'
        |UNION ALL
        |SELECT user_id, 'error' AS tag, value + 100.0 AS amount, epoch_us(ts) AS ts_us
        |FROM events WHERE event_type = 'error'""".stripMargin,

    "q18_nary_join" ->
      """SELECT l.l_orderkey, l.l_quantity AS qty, p.p_brand, s.s_name
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey""".stripMargin,

    "q19_flatmap" ->
      """SELECT user_id, unnest([value, -value]) AS value, epoch_us(ts) AS ts_us
        |FROM events""".stripMargin,

    "q20_rekey_agg" ->
      s"""SELECT o_orderpriority, COUNT(*) AS cnt, ${dsumSql("o_totalprice")} AS total
        |FROM orders GROUP BY o_orderpriority""".stripMargin,

    "q21_dedup_exact" ->
      s"SELECT DISTINCT ${DedupCols.mkString(", ")} FROM lineitem",

    "q22_dedup_latest" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
        | l_partkey, l_suppkey, epoch_us(l_shipdate) AS ship_us
        |FROM lineitem
        |QUALIFY row_number() OVER (PARTITION BY l_orderkey, l_linenumber
        | ORDER BY l_shipdate DESC, l_quantity DESC, l_extendedprice DESC,
        |          l_partkey DESC, l_suppkey DESC) = 1""".stripMargin,

    "q23_dedup_ngram" ->
      s"""${OSql.shingleCte},
        |shh AS (SELECT doc_id, nsh, CAST(('0x'||substr(md5(sh),1,15)) AS BIGINT) AS sh FROM sh),
        |capped AS (SELECT * FROM (SELECT *, count(*) OVER (PARTITION BY sh) AS df FROM shh) WHERE df <= 100)
        |SELECT x.doc_id AS a, y.doc_id AS b,
        | round(count(*)::DOUBLE / (x.nsh + y.nsh - count(*)), 6) AS jaccard
        |FROM capped x JOIN capped y ON x.sh = y.sh AND x.doc_id < y.doc_id
        |GROUP BY 1, 2, x.nsh, y.nsh
        |HAVING round(count(*)::DOUBLE / (x.nsh + y.nsh - count(*)), 6) >= 0.5""".stripMargin,

    "q24_dedup_minhash" ->
      s"""${OSql.shingleCte},
        |${OSql.sigCte},
        |bands0 AS (
        | SELECT doc_id, 0 AS band, ${OSql.bkey(0)} AS bkey FROM sig
        | UNION ALL SELECT doc_id, 1, ${OSql.bkey(4)} FROM sig),
        |bands AS (SELECT doc_id, band, bkey FROM bands0
        |  QUALIFY count(*) OVER (PARTITION BY band, bkey) <= 1000),
        |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |  FROM bands x JOIN bands y ON x.band = y.band AND x.bkey = y.bkey
        |  WHERE x.doc_id < y.doc_id)
        |SELECT cand.a, cand.b,
        | (${(0 until 8).map(i => s"CASE WHEN sa.s$i = sb.s$i THEN 1 ELSE 0 END").mkString(" + ")})::DOUBLE / 8.0 AS est
        |FROM cand JOIN sig sa ON cand.a = sa.doc_id JOIN sig sb ON cand.b = sb.doc_id""".stripMargin,

    "q25_dedup_simhash" ->
      s"""WITH t AS (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents),
        |h AS (SELECT doc_id, CAST(('0x'||substr(md5(w),1,8)) AS BIGINT) AS h FROM t),
        |s AS (SELECT doc_id, ${OSql.simSums} FROM h GROUP BY doc_id),
        |sig AS (SELECT doc_id, ${OSql.simBits} AS simhash FROM s),
        |bands0 AS (
        | SELECT doc_id, 0 AS band, simhash >> 16 AS bkey, simhash FROM sig
        | UNION ALL SELECT doc_id, 1, simhash & 65535, simhash FROM sig),
        |bands AS (SELECT * FROM bands0
        |  QUALIFY count(*) OVER (PARTITION BY band, bkey) <= 1000),
        |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
        |   bit_count(xor(x.simhash, y.simhash))::BIGINT AS hamming
        | FROM bands x JOIN bands y ON x.band = y.band AND x.bkey = y.bkey
        | WHERE x.doc_id < y.doc_id)
        |SELECT a, b, hamming FROM cand WHERE hamming <= 3""".stripMargin,

    "q26_sim_topk" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
        |sc AS (SELECT q.qid, e.vec_id AS id,
        |  round(list_reduce(list_prepend(0.0, list_transform(list_zip(e.embedding, q.qv),
        |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), (acc, v) -> acc + v)
        |   / (sqrt(list_reduce(list_prepend(0.0, list_transform(e.embedding,
        |        v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), (acc, v) -> acc + v))
        |    * sqrt(list_reduce(list_prepend(0.0, list_transform(q.qv,
        |        v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), (acc, v) -> acc + v))), 6) AS cos
        | FROM embeddings e, q)
        |SELECT qid, id, cos,
        | row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS rank
        |FROM sc
        |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) <= 10""".stripMargin,

    "q27_sim_lsh" ->
      s"""WITH b AS (SELECT *, ${OSql.bktSql(AnnBits)} AS bkt
        |  FROM embeddings),
        |q0 AS (SELECT vec_id AS qid, embedding AS qv, bkt FROM b WHERE vec_id < 5),
        |q AS (SELECT qid, qv, unnest(${OSql.probeSql(AnnBits, AnnHamming)}) AS bkt FROM q0),
        |sc AS (SELECT q.qid, e.vec_id AS id,
        |  round(list_reduce(list_prepend(0.0, list_transform(list_zip(e.embedding, q.qv),
        |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), (acc, v) -> acc + v)
        |   / (sqrt(list_reduce(list_prepend(0.0, list_transform(e.embedding,
        |        v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), (acc, v) -> acc + v))
        |    * sqrt(list_reduce(list_prepend(0.0, list_transform(q.qv,
        |        v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), (acc, v) -> acc + v))), 6) AS cos
        | FROM b e JOIN q ON e.bkt = q.bkt)
        |SELECT qid, id, cos,
        | row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS rank
        |FROM sc
        |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) <= 5""".stripMargin,

    "q28_cosine_neardup" ->
      s"""WITH b0 AS (SELECT *, ${(0 until 8).map(i =>
            s"(CASE WHEN embedding[${i + 1}] >= 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")} AS bkt
        |  FROM embeddings),
        |b AS (SELECT * FROM b0 QUALIFY count(*) OVER (PARTITION BY bkt) <= 1000)
        |SELECT * FROM (
        | SELECT x.vec_id AS a, y.vec_id AS b,
        |  round(list_reduce(list_prepend(0.0, list_transform(list_zip(x.embedding, y.embedding),
        |    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (acc, v) -> acc + v)
        |   / (sqrt(list_reduce(list_prepend(0.0, list_transform(x.embedding,
        |        v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), (acc, v) -> acc + v))
        |    * sqrt(list_reduce(list_prepend(0.0, list_transform(y.embedding,
        |        v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), (acc, v) -> acc + v))), 6) AS cos
        | FROM b x JOIN b y ON x.bkt = y.bkt AND x.vec_id < y.vec_id)
        |WHERE cos >= 0.9""".stripMargin,

    "q38_dedup_normalized" ->
      """WITH n AS (SELECT doc_id,
        |  trim(regexp_replace(lower(regexp_replace(text, '[^A-Za-z0-9 ]', ' ', 'g')),
        |       ' +', ' ', 'g')) AS norm
        | FROM documents)
        |SELECT md5(norm) AS norm_key,
        | min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM n GROUP BY 1""".stripMargin,

    "q39_dedup_drop_normalized" ->
      """WITH n AS (SELECT doc_id, lang, n_chars,
        |  trim(regexp_replace(lower(regexp_replace(text, '[^A-Za-z0-9 ]', ' ', 'g')),
        |       ' +', ' ', 'g')) AS norm
        | FROM documents)
        |SELECT doc_id, lang, n_chars FROM (
        | SELECT doc_id, lang, n_chars, md5(norm) AS nh FROM n)
        |QUALIFY row_number() OVER (PARTITION BY nh ORDER BY doc_id) = 1""".stripMargin,

    "q37_sim_ivf" ->
      s"""WITH c AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
        |a0 AS (SELECT e.vec_id, e.embedding, c.cid,
        |  ${OSql.cosSql("e.embedding", "c.cvec")} AS cc
        | FROM embeddings e CROSS JOIN c),
        |a AS (SELECT vec_id, embedding, cid FROM a0
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid ASC) = 1),
        |q0 AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
        |p0 AS (SELECT q0.qid, q0.qv, c.cid,
        |  ${OSql.cosSql("q0.qv", "c.cvec")} AS cc
        | FROM q0 CROSS JOIN c),
        |p AS (SELECT qid, qv, cid FROM p0
        |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cc DESC, cid ASC) <= 2),
        |sc AS (SELECT p.qid, a.vec_id AS id,
        |  ${OSql.cosSql("a.embedding", "p.qv")} AS cos
        | FROM a JOIN p ON a.cid = p.cid)
        |SELECT qid, id, cos,
        | row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS rank
        |FROM sc
        |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) <= 5""".stripMargin,

    "q29_text_quality" ->
      """SELECT doc_id,
        | CAST(length(text) AS BIGINT) AS n_chars,
        | CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        | round((length(text) - (length(text) - length(replace(text, ' ', ''))))::DOUBLE
        |   / len(string_split(text, ' ')), 6) AS avg_word_len,
        | round((
        |   (length(' '||text||' ') - length(replace(' '||text||' ', ' the ', ''))) // 5
        | + (length(' '||text||' ') - length(replace(' '||text||' ', ' a ', ''))) // 3
        | + (length(' '||text||' ') - length(replace(' '||text||' ', ' of ', ''))) // 4
        | + (length(' '||text||' ') - length(replace(' '||text||' ', ' and ', ''))) // 5
        | + (length(' '||text||' ') - length(replace(' '||text||' ', ' is ', ''))) // 4
        | )::DOUBLE / len(string_split(text, ' ')), 6) AS stopword_ratio,
        | CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS BIGINT) AS punct_cnt
        |FROM documents""".stripMargin,

    "q30_text_langid" ->
      s"""SELECT doc_id, ${OSql.langCase} AS lang_pred
        |FROM documents""".stripMargin,

    "q31_token_count" ->
      """SELECT doc_id,
        | CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        | CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS re_tokens
        |FROM documents""".stripMargin,

    "q32_fingerprint" ->
      s"""SELECT doc_id,
        | list_reduce(list_prepend(CAST(0 AS BIGINT),
        |   list_transform(string_split(text, ' '),
        |     w -> CAST(('0x'||substr(md5(w),1,15)) AS BIGINT) % ${TextAnalysis.FpP})),
        |   (acc, h) -> (acc * 31 + h) % ${TextAnalysis.FpP}) AS fp
        |FROM documents""".stripMargin,

    "q33_json_props" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k_val
        |FROM events""".stripMargin,

    "q34_multimodal" ->
      """WITH m AS (SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n,
        |  CAST(('0x'||substr(md5(text),1,15)) AS BIGINT) % 1000000007 AS sd
        | FROM documents),
        |d AS (SELECT doc_id, n, sd,
        |  (n * 7919) % 1024 + 1 AS w, (n * 104729) % 1024 + 1 AS h
        | FROM m)
        |SELECT doc_id, n AS n_bytes, w AS width, h AS height, n % 3 + 1 AS channels,
        | CASE WHEN greatest(w, h) <= 256 THEN w ELSE (w * 256) // greatest(w, h) END AS rw,
        | CASE WHEN greatest(w, h) <= 256 THEN h ELSE (h * 256) // greatest(w, h) END AS rh,
        | (sd * 1009 + 0 * 9973) % 1000000 / CAST(1000000 AS DOUBLE) AS f0,
        | (sd * 1009 + 1 * 9973) % 1000000 / CAST(1000000 AS DOUBLE) AS f1
        |FROM d""".stripMargin,

    // the salt never changes results — the oracle is the PLAIN join
    "q40_salted_join" ->
      s"""SELECT o_orderpriority, count(*) AS n_items,
        | ${dsumSql("l_quantity")} AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin,

    // bucketing never changes results — the oracle is the naive
    // range-predicate join
    "q41_range_join" ->
      s"""WITH bands AS (SELECT band_id, band_id * 5000000 AS lo,
        |  (band_id + 1) * 5000000 - 1 AS hi FROM range(12) t(band_id)),
        |p AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |  o_totalprice FROM orders)
        |SELECT band_id, count(*) AS n_orders,
        | ${dsumSql("o_totalprice")} AS sum_price
        |FROM p JOIN bands ON cents >= lo AND cents <= hi
        |GROUP BY 1""".stripMargin,

    "q42_topn_per_group" ->
      s"""WITH rev AS (SELECT n_name, s_suppkey,
        |  ${dsumSql("l_quantity")} AS sum_qty
        | FROM lineitem
        | JOIN supplier ON l_suppkey = s_suppkey
        | JOIN nation ON s_nationkey = n_nationkey
        | GROUP BY 1, 2)
        |SELECT n_name, s_suppkey, sum_qty,
        | CAST(row_number() OVER (PARTITION BY n_name
        |   ORDER BY sum_qty DESC, s_suppkey ASC) AS BIGINT) AS rank
        |FROM rev QUALIFY rank <= 3""".stripMargin,

    "q43_rollup" ->
      s"""SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        | ${dsumSql("l_quantity")} AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,

    "q44_hash_split" ->
      """SELECT doc_id,
        | CASE WHEN h < 8000 THEN 'train' WHEN h < 9000 THEN 'val'
        |      ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |  CAST(('0x'||substr(md5('s1'||CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT)
        |    % 10000 AS h
        | FROM documents)""".stripMargin,

    // q45: quartiles via quantile_disc — equal to Spark's
    // percentile_approx@10000 whenever groups are smaller than the
    // accuracy (exact order statistics on both engines). The HLL column
    // is excluded from the driver surface (unit-tested instead): a query
    // with no oracleSql entry is entirely unattested by the driver.
    "q45_sketch_profile" ->
      """SELECT lang, count(*) AS n_rows,
        | min(n_chars) AS val_min, max(n_chars) AS val_max,
        | quantile_disc(n_chars, 0.25) AS val_p25,
        | quantile_disc(n_chars, 0.5) AS val_p50,
        | quantile_disc(n_chars, 0.75) AS val_p75
        |FROM documents GROUP BY lang""".stripMargin,

    "q46_knn_join" -> Sql_q46,

    // q174: the persisted-model probe lands on identical rows as the
    // in-query fit — float32 centroids round-trip parquet bit-exactly,
    // so the artifact path and q46's self-contained path share one
    // truth (the q171 ≡ q168 convention applied to the ANN model).
    "q174_knn_persisted" -> Sql_q46,

    "q47_neardup_clusters" -> Sql_q47,

    "q48_lag_lead" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type
        | FROM events)
        |SELECT event_id, user_id, ts_us,
        | lag(event_type) OVER (PARTITION BY user_id
        |   ORDER BY ts_us, event_id) AS prev_type,
        | ts_us - lag(ts_us) OVER (PARTITION BY user_id
        |   ORDER BY ts_us, event_id) AS gap_us
        |FROM e""".stripMargin,

    "q49_set_ops" ->
      """SELECT user_id, 'both' AS cohort FROM (
        | SELECT user_id FROM events WHERE event_type = 'click'
        | INTERSECT
        | SELECT user_id FROM events WHERE event_type = 'purchase')
        |UNION ALL
        |SELECT user_id, 'click_only' AS cohort FROM (
        | SELECT user_id FROM events WHERE event_type = 'click'
        | EXCEPT
        | SELECT user_id FROM events WHERE event_type = 'purchase')""".stripMargin,

    "q50_pack_sequences" ->
      s"""WITH t AS (SELECT doc_id, lang,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        |  CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT)
        |    % $PackShards AS shard
        | FROM documents),
        |s AS (SELECT doc_id, lang, ws_tokens, shard,
        |  SUM(ws_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        | FROM t)
        |SELECT doc_id, lang, ws_tokens, shard,
        | CAST(floor((cum - ws_tokens) / 2000.0) AS BIGINT) AS seq_id
        |FROM s""".stripMargin,

    "q51_decontam" ->
      s"""${OSql.shingleCte},
        |shh AS (SELECT doc_id, nsh, CAST(('0x'||substr(md5(sh),1,15)) AS BIGINT) AS sh FROM sh),
        |b AS (SELECT DISTINCT sh FROM shh WHERE doc_id < 10),
        |c AS (SELECT doc_id, nsh, sh FROM shh WHERE doc_id >= 10)
        |SELECT c.doc_id, CAST(c.nsh AS BIGINT) AS n_shingles,
        | count(b.sh) AS n_contam,
        | round(count(b.sh)::DOUBLE / c.nsh, 6) AS contam_frac
        |FROM c LEFT JOIN b ON c.sh = b.sh
        |GROUP BY c.doc_id, c.nsh""".stripMargin,

    "q52_heavy_keys" ->
      """WITH t AS (SELECT count(*) AS total FROM events),
        |c AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1)
        |SELECT user_id, n, round(n / total, 6) AS share
        |FROM c, t
        |ORDER BY n DESC, user_id ASC
        |LIMIT 10""".stripMargin,

    // q53: 1-indexed DuckDB lists; the argmax replays Spark's
    // fixed-width sortable packing (lpad(cnt,10,'0') || bigram — see
    // Repetition.bigramProfile) so the tie-break (largest count, then
    // byte-wise largest bigram) is bit-identical.
    "q53_repetition_quality" ->
      """WITH w AS (
        |  SELECT doc_id, n_chars, string_split(text, ' ') AS ws
        |  FROM documents),
        |base AS (
        |  SELECT doc_id, n_chars,
        |    round(1.0 - len(list_distinct(ws)) / CAST(len(ws) AS DOUBLE), 6)
        |      AS dup_token_frac,
        |    ws FROM w),
        |bg AS (
        |  SELECT doc_id, n_chars, dup_token_frac,
        |    ws[i] || ' ' || ws[i + 1] AS bigram
        |  FROM base, unnest(generate_series(1, len(ws) - 1)) AS t(i)),
        |cnt AS (
        |  SELECT doc_id, n_chars, dup_token_frac, bigram, count(*) AS cnt
        |  FROM bg GROUP BY ALL),
        |top AS (
        |  SELECT doc_id, n_chars, dup_token_frac,
        |    max(lpad(CAST(cnt AS VARCHAR), 10, '0') || bigram) AS m
        |  FROM cnt GROUP BY ALL)
        |SELECT doc_id, dup_token_frac,
        |  substr(m, 11) AS top_bigram,
        |  CAST(substr(m, 1, 10) AS BIGINT) AS top_bigram_cnt,
        |  round(CAST(substr(m, 1, 10) AS BIGINT) * length(substr(m, 11))
        |      / CAST(n_chars AS DOUBLE), 6)
        |    AS top_bigram_char_frac
        |FROM top""".stripMargin,

    // q54: patterns are the common Java-regex/RE2 subset; DuckDB needs
    // the 'g' flag to match Spark's always-global regexp_replace.
    "q54_pii_scrub" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |    text || ' contact user' || doc_id || '@ex' || (doc_id % 10)
        |      || '.org or 10.' || (doc_id % 256) || '.0.' || (doc_id % 100)
        |      AS t
        |  FROM documents),
        |es AS (
        |  SELECT doc_id, t,
        |    regexp_replace(t,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |      '<EMAIL>', 'g') AS t_email
        |  FROM aug)
        |SELECT doc_id,
        |  len(regexp_extract_all(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(t_email,
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS n_ips,
        |  md5(regexp_replace(t_email,
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b',
        |    '<IP>', 'g')) AS scrubbed_md5,
        |  length(regexp_replace(t_email,
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b',
        |    '<IP>', 'g')) AS scrubbed_len
        |FROM es""".stripMargin,

    // q55: sqrt (IEEE-correctly-rounded on both engines) keeps the
    // floor'd basis-point threshold bit-identical; the md5 hash is the
    // q44 cross-engine construction.
    "q55_temperature_resample" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
        |m AS (SELECT min(n) AS n_min FROM c),
        |r AS (SELECT lang,
        |        floor(10000 * sqrt(n_min / CAST(n AS DOUBLE))) AS bp
        |      FROM c, m)
        |SELECT d.doc_id, d.lang
        |FROM documents d JOIN r ON d.lang = r.lang
        |WHERE CAST(('0x'||substr(md5('t1'||CAST(doc_id AS VARCHAR)),1,15))
        |        AS BIGINT) % 10000 < bp""".stripMargin,

    // q56: DuckDB 1-based inclusive list slices clamp like Spark's
    // slice; the packed keeper key doc_id*2^20+pos replays
    // Dedup.chunkDedup exactly; string_agg(ORDER BY pos) = the sorted
    // reassembly.
    "q56_chunk_dedup" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |           FROM documents),
        |ch AS (
        |  SELECT doc_id, i AS pos,
        |    array_to_string(ws[(i*10+1):((i+1)*10)], ' ') AS chunk
        |  FROM w, unnest(generate_series(0,
        |    CAST(ceil(len(ws) / 10.0) AS BIGINT) - 1)) AS t(i)),
        |k AS (SELECT md5(chunk) AS kk, min(doc_id * 1048576 + pos) AS dp
        |      FROM ch GROUP BY 1),
        |kept AS (SELECT ch.doc_id, ch.pos, ch.chunk
        |         FROM ch JOIN k ON md5(ch.chunk) = k.kk
        |           AND ch.doc_id * 1048576 + ch.pos = k.dp)
        |SELECT doc_id, string_agg(chunk, ' ' ORDER BY pos) AS dedup_text,
        |       count(*) AS n_chunks_kept
        |FROM kept GROUP BY doc_id""".stripMargin,

    // q57: both hashes are the q44 md5 construction with distinct
    // salts; row_number over (ord hash, doc_id) is a total order, so
    // positions are engine-independent.
    "q57_shuffle_shards" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    CAST(('0x'||substr(md5('sh1#s'||CAST(doc_id AS VARCHAR)),1,15))
        |      AS BIGINT) % 8 AS shard,
        |    CAST(('0x'||substr(md5('sh1#o'||CAST(doc_id AS VARCHAR)),1,15))
        |      AS BIGINT) AS ord
        |  FROM documents)
        |SELECT doc_id, shard,
        |  row_number() OVER (PARTITION BY shard ORDER BY ord, doc_id)
        |    AS shard_pos
        |FROM h""".stripMargin,

    // q58: integer sums + exact divisions only (no ln), so the 6-dp
    // rounds agree bit-for-bit.
    "q58_token_rarity" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |vocab AS (SELECT tok, count(*) AS tf FROM toks GROUP BY 1)
        |SELECT doc_id,
        |  count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN tf < 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
        |  round(sum(CASE WHEN tf < 3 THEN 1 ELSE 0 END)
        |      / CAST(count(*) AS DOUBLE), 6) AS rare_frac,
        |  round(sum(tf) / CAST(count(*) AS DOUBLE), 6) AS mean_tf
        |FROM toks JOIN vocab USING (tok)
        |GROUP BY doc_id""".stripMargin,

    // q59: q56's span explode, but keyed on count(DISTINCT doc_id) and
    // dropping EVERY hot occurrence; string_agg FILTER + coalesce('')
    // mirrors Spark's null-skipping collect_list over an all-hot doc.
    "q59_boilerplate" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |           FROM documents),
        |ch AS (
        |  SELECT doc_id, i AS pos,
        |    array_to_string(ws[(i*3+1):((i+1)*3)], ' ') AS span
        |  FROM w, unnest(generate_series(0,
        |    CAST(ceil(len(ws) / 3.0) AS BIGINT) - 1)) AS t(i)),
        |k AS (SELECT md5(span) AS kk, count(DISTINCT doc_id) AS df
        |      FROM ch GROUP BY 1),
        |f AS (SELECT ch.doc_id, ch.pos, ch.span, k.df >= 3 AS hot
        |      FROM ch JOIN k ON md5(ch.span) = k.kk)
        |SELECT doc_id,
        |  coalesce(string_agg(span, ' ' ORDER BY pos)
        |    FILTER (WHERE NOT hot), '') AS clean_text,
        |  CAST(count(*) FILTER (WHERE NOT hot) AS BIGINT) AS n_spans_kept,
        |  CAST(count(*) FILTER (WHERE hot) AS BIGINT) AS n_spans_dropped
        |FROM f GROUP BY doc_id""".stripMargin,

    // q60: the bucket hash is the q44 md5 construction; the window
    // cumsum runs over the (source × bucket) histogram only, and
    // bucket-distinctness within a partition makes RANGE == ROWS, so
    // both engines' default frames agree.
    "q60_mixture_budget" ->
      """WITH d AS (SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(('0x'||substr(md5('mix1'||CAST(doc_id AS VARCHAR)),1,15))
        |      AS BIGINT) % 1024 AS b
        |  FROM documents),
        |h AS (SELECT source, b, sum(n_tokens) AS w FROM d GROUP BY 1, 2),
        |c AS (SELECT source, b,
        |        sum(w) OVER (PARTITION BY source ORDER BY b) AS cum
        |      FROM h),
        |cut AS (SELECT source, max(b) AS cutb FROM c WHERE cum <= 800
        |        GROUP BY 1)
        |SELECT d.doc_id, d.source, d.n_tokens
        |FROM d JOIN cut ON d.source = cut.source AND d.b <= cut.cutb""".stripMargin,

    // q61: fixed operation order ((x·127)/s, max over double-widened
    // floats) makes the doubles bit-identical; 1-arg round is
    // away-from-zero on both engines (Spark HALF_UP == away-from-zero);
    // the md5 commits every quantized component to the hash.
    "q61_quantize_int8" ->
      """WITH q AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding,
        |      x -> abs(CAST(x AS DOUBLE)))) AS s
        |  FROM embeddings),
        |v AS (SELECT vec_id, s,
        |    CASE WHEN s = 0 THEN list_transform(embedding, x -> 0)
        |         ELSE list_transform(embedding,
        |           x -> CAST(round(CAST(x AS DOUBLE) * 127 / s) AS INTEGER))
        |    END AS qv
        |  FROM q)
        |SELECT vec_id,
        |  CAST(len(qv) AS BIGINT) AS n_dims,
        |  round(s, 6) AS scale6,
        |  md5(array_to_string(list_transform(qv, x -> CAST(x AS VARCHAR)),
        |    ',')) AS q_md5,
        |  CAST(list_sum(qv) AS BIGINT) AS q_sum
        |FROM v""".stripMargin,

    // q62: q46's LSH skeleton + q61's quantization CTE; the coarse
    // scores are cosines over integer lists (exact in double — every
    // sum < 2^53), so the coarseK=10 shortlist, and with it the rerank
    // input, is bit-identical across engines; both stages tie-break by
    // ascending id like the bounded-heap aggregator.
    "q62_knn_quantized" ->
      s"""WITH ${ivfKnnCtes(IvfProbe)},
        |co AS (SELECT p.qid, e.vec_id AS id,
        |  ${OSql.cosSql("e.q", "p.qq")} AS cc
        | FROM vcell e JOIN vprobe p ON e.cid = p.cid AND e.vec_id <> p.qid),
        |short AS (SELECT qid, id FROM co
        |  QUALIFY row_number() OVER (PARTITION BY qid
        |    ORDER BY cc DESC, id ASC) <= 10),
        |re AS (SELECT s.qid, s.id,
        |  ${OSql.cosSql("ei.embedding", "eq.embedding")} AS cos
        | FROM short s
        | JOIN embeddings ei ON s.id = ei.vec_id
        | JOIN embeddings eq ON s.qid = eq.vec_id)
        |SELECT qid, id, cos,
        | row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS rank
        |FROM re
        |QUALIFY row_number() OVER (PARTITION BY qid
        |  ORDER BY cos DESC, id ASC) <= 3""".stripMargin,

    // Same shingle/signature/band fragments as q24; the two sides band
    // separately, each QUALIFY-capped on its own bucket occupancy, and
    // candidates join incoming bands to reference bands only.
    "q63_dedup_incremental" -> IncrementalDedupSql,

    // The stream-safe chained form's own contract: the INCOMING side
    // cannot be occupancy-capped (a stream has no global bucket
    // counts), so its oracle leaves ib uncapped — only the static
    // reference side carries the QUALIFY cap, mirroring
    // dropNearDupsAgainstLive exactly (q78 makes the same asymmetry
    // explicit for the vector twin).
    "q77_dedup_ingest" -> incrementalDedupSqlWith(capIncoming = false),

    // q171 = the SAME truth as q168: the persisted-index probe path
    // must land on identical rows as the in-query rebuild — the
    // q159/q167 twin convention, here pinning the standing-index
    // amortization to the driver gate.
    "q171_span_cut_indexed" -> SpanCutIngestSql,

    // q172: the q46 fit skeleton's assignment (vcell), occupancy per
    // cell LEFT-joined onto the full derived centroid list (empty
    // cells report 0), the hot flag at the q169 split threshold and
    // the derived sub-cell count - all exact integers.
    "q172_ivf_occupancy" ->
      s"""WITH ${ivfKnnCtes(IvfProbe)},
        |rocc AS (SELECT cid, count(*) AS n FROM vcell GROUP BY 1)
        |SELECT CAST(c2.cid AS BIGINT) AS cell,
        |  CAST(coalesce(rocc.n, 0) AS BIGINT) AS n_members,
        |  CAST(CASE WHEN coalesce(rocc.n, 0) > $SplitAbove
        |    THEN 1 ELSE 0 END AS BIGINT) AS is_hot,
        |  CAST(CASE WHEN coalesce(rocc.n, 0) > $SplitAbove
        |    THEN greatest(2, CAST(ceil(coalesce(rocc.n, 0)
        |      / $SplitTargetOcc.0) AS BIGINT))
        |    ELSE 0 END AS BIGINT) AS suggested_subcells
        |FROM c2 LEFT JOIN rocc ON c2.cid = rocc.cid""".stripMargin,
  ) ++ oracleSql2

  /** q63's oracle (capIncoming = true) and q77's live-contract variant
    * (capIncoming = false: the stream side carries no occupancy cap). */
  private val IncrementalDedupSql: String =
    incrementalDedupSqlWith(capIncoming = true)

  private def incrementalDedupSqlWith(capIncoming: Boolean): String = {
    val ibCte =
      if (capIncoming)
        s"""ib AS (SELECT doc_id, band, bkey FROM ib0
           |  QUALIFY count(*) OVER (PARTITION BY band, bkey) <= $LshMaxBucket),""".stripMargin
      else
        "ib AS (SELECT doc_id, band, bkey FROM ib0),"
    s"""${OSql.shingleCte},
        |${OSql.sigCte},
        |ib0 AS (
        | SELECT doc_id, 0 AS band, ${OSql.bkey(0)} AS bkey FROM sig WHERE doc_id % 4 <> 0
        | UNION ALL SELECT doc_id, 1, ${OSql.bkey(4)} FROM sig WHERE doc_id % 4 <> 0),
        |$ibCte
        |rb0 AS (
        | SELECT doc_id, 0 AS band, ${OSql.bkey(0)} AS bkey FROM sig WHERE doc_id % 4 = 0
        | UNION ALL SELECT doc_id, 1, ${OSql.bkey(4)} FROM sig WHERE doc_id % 4 = 0),
        |rb AS (SELECT doc_id, band, bkey FROM rb0
        |  QUALIFY count(*) OVER (PARTITION BY band, bkey) <= $LshMaxBucket),
        |cand AS (SELECT DISTINCT i.doc_id AS a, r.doc_id AS b
        |  FROM ib i JOIN rb r ON i.band = r.band AND i.bkey = r.bkey),
        |m AS (SELECT DISTINCT cand.a FROM cand
        |  JOIN sig sa ON cand.a = sa.doc_id JOIN sig sb ON cand.b = sb.doc_id
        |  WHERE (${(0 until 8).map(i => s"CASE WHEN sa.s$i = sb.s$i THEN 1 ELSE 0 END").mkString(" + ")})::DOUBLE / 8.0 >= 0.5)
        |SELECT d.doc_id, d.source, d.n_chars FROM documents d
        |WHERE d.doc_id % 4 <> 0 AND d.doc_id NOT IN (SELECT a FROM m)""".stripMargin
  }

  private def oracleSql2: Map[String, String] = Map(
    // Same int8 quantization as q61/q62, sign-bucket cells as q27/q28;
    // integer-exact centroid sums via the positional explode, score =
    // dot/sqrt(nsq) (exact ints + IEEE sqrt/divide, so the argmax
    // agrees bit-for-bit), pairwise int8 cosine with Int8Cos's
    // zero-norm-is-0.0 convention, capped cells passed through.
    "q64_semantic_dedup" ->
      s"""WITH ${OSql.semDedupCtes}
        |SELECT vec_id, CAST(bkt AS BIGINT) AS bucket, is_rep, cos_rep FROM p
        |WHERE nsq = 0 OR (is_rep AND NOT killed)
        |   OR (NOT is_rep AND cos_rep < 0.35)
        |UNION ALL
        |SELECT vec_id, CAST(bkt AS BIGINT) AS bucket, false AS is_rep,
        |  CAST(NULL AS DOUBLE) AS cos_rep FROM cap""".stripMargin,

    // The md5 stand-in model regenerated inline: bucket = hash60(gram)
    // mod 512, weight = (hash60('w'||bucket) mod 2001) - 1000 — exactly
    // TextAnalysis.md5Weights(512, "w"), recomputed per gram.
    "q65_hashed_score" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g AS (SELECT doc_id, list_concat(ws,
        |    CASE WHEN len(ws) >= 2 THEN list_transform(
        |      generate_series(1, len(ws) - 1), i -> ws[i] || ' ' || ws[i + 1])
        |    ELSE [] END) AS gs FROM w),
        |sc AS (SELECT doc_id, CAST(len(gs) AS BIGINT) AS n_grams,
        |  list_reduce(list_prepend(0.0, list_transform(gs, t ->
        |    CAST((CAST(('0x' || substr(md5('w' ||
        |      CAST((CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) % 512) AS VARCHAR)),
        |      1, 15)) AS BIGINT) % 2001) - 1000 AS DOUBLE))),
        |    (acc, v) -> acc + v) AS score_sum
        | FROM g)
        |SELECT doc_id, n_grams, score_sum,
        |  round(score_sum / n_grams, 6) AS mean_weight
        |FROM sc""".stripMargin,

    // q28's cell construction with asymmetric sides (each QUALIFY-capped
    // on its own REGISTERED occupancy), the reference side expanded to
    // its probes=4 multi-probe cells (own cell + xor of the 3
    // smallest-|component| bits, ties by ascending dim — probeCells'
    // order), the 6-dp cosine at the cut, and q63's NOT IN consumer.
    "q66_cosine_incremental" ->
      s"""WITH b0 AS (SELECT *, ${(0 until 8).map(i =>
            s"(CASE WHEN embedding[${i + 1}] >= 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")} AS bkt
        |  FROM embeddings),
        |i AS (SELECT * FROM b0 WHERE vec_id % 4 <> 0
        |  QUALIFY count(*) OVER (PARTITION BY bkt) <= $LshMaxBucket),
        |${OSql.refProbeCte(probes = 4)}
        |r AS (SELECT * FROM rall
        |  QUALIFY count(*) OVER (PARTITION BY bkt) <= $LshMaxBucket),
        |m AS (SELECT DISTINCT i.vec_id FROM i JOIN r ON i.bkt = r.bkt
        |  WHERE ${OSql.cosSql("i.embedding", "r.embedding")} >= 0.3)
        |SELECT vec_id, label FROM embeddings
        |WHERE vec_id % 4 <> 0 AND vec_id NOT IN (SELECT vec_id FROM m)""".stripMargin,

    // q176: q66's machinery unrolled TWICE — batch-1 match/anti
    // against the reference registration, then the union corpus
    // (reference ∪ batch-1 survivors) re-registers under its 4 probe
    // cells and batch 2 matches against it; occupancy caps per side
    // per round, exactly as each cosineMatchedAgainst call caps.
    "q176_vector_corpus_update" ->
      s"""WITH b0 AS (SELECT *, ${(0 until 8).map(i =>
            s"(CASE WHEN embedding[${i + 1}] >= 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")} AS bkt
        |  FROM embeddings),
        |i1 AS (SELECT * FROM b0 WHERE vec_id % 4 IN (1, 2)
        |  QUALIFY count(*) OVER (PARTITION BY bkt) <= $LshMaxBucket),
        |${OSql.refProbeCte(probes = 4)}
        |r1 AS (SELECT * FROM rall
        |  QUALIFY count(*) OVER (PARTITION BY bkt) <= $LshMaxBucket),
        |m1 AS (SELECT DISTINCT i1.vec_id FROM i1 JOIN r1 ON i1.bkt = r1.bkt
        |  WHERE ${OSql.cosSql("i1.embedding", "r1.embedding")} >= 0.3),
        |u AS (SELECT vec_id, label, embedding, bkt FROM b0
        |  WHERE vec_id % 4 = 0
        |  UNION ALL SELECT vec_id, label, embedding, bkt FROM b0
        |  WHERE vec_id % 4 IN (1, 2)
        |    AND vec_id NOT IN (SELECT vec_id FROM m1)),
        |ux AS (SELECT vec_id, label, embedding,
        |    xor(bkt, CAST(power(2, i) AS BIGINT)) AS bkt
        |  FROM (SELECT u.*, t.i, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY abs(embedding[t.i + 1]) ASC, t.i ASC) AS rnk
        |    FROM u, range(0, 8) t(i)) WHERE rnk <= 3),
        |uall AS (SELECT * FROM u
        |  UNION ALL SELECT vec_id, label, embedding, bkt FROM ux),
        |r2 AS (SELECT * FROM uall
        |  QUALIFY count(*) OVER (PARTITION BY bkt) <= $LshMaxBucket),
        |i2 AS (SELECT * FROM b0 WHERE vec_id % 4 = 3
        |  QUALIFY count(*) OVER (PARTITION BY bkt) <= $LshMaxBucket),
        |m2 AS (SELECT DISTINCT i2.vec_id FROM i2 JOIN r2 ON i2.bkt = r2.bkt
        |  WHERE ${OSql.cosSql("i2.embedding", "r2.embedding")} >= 0.3)
        |SELECT vec_id, label FROM embeddings
        |WHERE vec_id % 4 = 3 AND vec_id NOT IN (SELECT vec_id FROM m2)""".stripMargin,

    // Tie order mirrors the heap's (cnt desc, hash60(token) asc) — the
    // same md5 construction as q44.
    "q67_vocab_topk" ->
      """WITH t AS (SELECT lang, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |c AS (SELECT lang, token, count(*) AS cnt FROM t
        |  WHERE len(token) > 0 GROUP BY 1, 2)
        |SELECT lang, token, cnt, rank FROM (
        | SELECT lang, token, cnt, row_number() OVER (PARTITION BY lang
        |   ORDER BY cnt DESC,
        |     CAST(('0x'||substr(md5(token),1,15)) AS BIGINT) ASC) AS rank
        | FROM c) WHERE rank <= 10""".stripMargin,

    // q47's recursive-CTE clusters feeding q44's basis-point CASE, hash
    // keyed on the cluster (seed 'ls1').
    "q68_leakage_split" ->
      s"""${OSql.shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
        |shh AS (SELECT doc_id, nsh, CAST(('0x'||substr(md5(sh),1,15)) AS BIGINT) AS sh FROM sh),
        |capped AS (SELECT * FROM (SELECT *, count(*) OVER (PARTITION BY sh) AS df FROM shh) WHERE df <= 100),
        |pairs AS (SELECT x.doc_id AS a, y.doc_id AS b
        | FROM capped x JOIN capped y ON x.sh = y.sh AND x.doc_id < y.doc_id
        | GROUP BY 1, 2, x.nsh, y.nsh
        | HAVING round(count(*)::DOUBLE / (x.nsh + y.nsh - count(*)), 6) >= 0.5),
        |edges AS (SELECT a, b FROM pairs UNION ALL SELECT b AS a, a AS b FROM pairs),
        |reach(id, lab) AS (
        | SELECT doc_id, doc_id FROM documents
        | UNION
        | SELECT e.a, r.lab FROM edges e JOIN reach r ON r.id = e.b),
        |cc AS (SELECT id AS doc_id, min(lab) AS cluster FROM reach GROUP BY 1)
        |SELECT doc_id, cluster,
        | CASE WHEN h < 8000 THEN 'train' WHEN h < 9000 THEN 'val'
        |      ELSE 'test' END AS split
        |FROM (SELECT doc_id, cluster,
        |  CAST(('0x'||substr(md5('ls1'||CAST(cluster AS VARCHAR)),1,15)) AS BIGINT)
        |    % 10000 AS h
        | FROM cc)""".stripMargin,

    // First-failing-rule CASE in pipeline order; integer-exact bounds
    // (cross-multiplied — no division noise crosses engines).
    "q69_filter_funnel" ->
      """WITH f AS (SELECT doc_id, n_chars,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS words,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS uniq
        | FROM documents)
        |SELECT doc_id,
        | CASE WHEN NOT (n_chars >= 150) THEN 'min_chars'
        |      WHEN NOT (words >= 30) THEN 'min_words'
        |      WHEN NOT (n_chars * 5 <= words * 29) THEN 'long_words'
        |      WHEN NOT (uniq * 10 >= words * 3) THEN 'low_diversity'
        |      ELSE NULL END AS first_failed,
        | (n_chars >= 150 AND words >= 30 AND n_chars * 5 <= words * 29
        |  AND uniq * 10 >= words * 3) AS kept
        |FROM f""".stripMargin,

    // q47's clusters; the survivor is the longest member (ties to
    // lowest id) instead of min(id).
    "q70_dedup_keep_best" ->
      s"""${OSql.shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
        |shh AS (SELECT doc_id, nsh, CAST(('0x'||substr(md5(sh),1,15)) AS BIGINT) AS sh FROM sh),
        |capped AS (SELECT * FROM (SELECT *, count(*) OVER (PARTITION BY sh) AS df FROM shh) WHERE df <= 100),
        |pairs AS (SELECT x.doc_id AS a, y.doc_id AS b
        | FROM capped x JOIN capped y ON x.sh = y.sh AND x.doc_id < y.doc_id
        | GROUP BY 1, 2, x.nsh, y.nsh
        | HAVING round(count(*)::DOUBLE / (x.nsh + y.nsh - count(*)), 6) >= 0.5),
        |edges AS (SELECT a, b FROM pairs UNION ALL SELECT b AS a, a AS b FROM pairs),
        |reach(id, lab) AS (
        | SELECT doc_id, doc_id FROM documents
        | UNION
        | SELECT e.a, r.lab FROM edges e JOIN reach r ON r.id = e.b),
        |cc AS (SELECT id AS doc_id, min(lab) AS cluster FROM reach GROUP BY 1),
        |keep AS (SELECT doc_id FROM (
        |  SELECT c.doc_id, c.cluster, d.n_chars FROM cc c
        |  JOIN documents d USING (doc_id))
        | QUALIFY row_number() OVER (PARTITION BY cluster
        |   ORDER BY n_chars DESC, doc_id ASC) = 1)
        |SELECT d.doc_id, d.lang, d.n_chars FROM documents d
        |JOIN keep USING (doc_id)""".stripMargin,

    // Ascending 52-bit salted hash rank within each source, first 20
    // survive — q44's md5 construction reduced mod 2^52 (the operator's
    // double-exact range), ties to lowest id.
    "q71_cap_per_source" ->
      """WITH h AS (SELECT doc_id, source,
        |  CAST(('0x'||substr(md5('cap1'||CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT)
        |    % 4503599627370496 AS r
        | FROM documents)
        |SELECT doc_id, source FROM h
        |QUALIFY row_number() OVER (PARTITION BY source
        |  ORDER BY r ASC, doc_id ASC) <= 20""".stripMargin,

    // Same (ts_us, event_id) order as q48; session_event re-derived as
    // a per-(user, session) row_number — equal to the engine's
    // rn − session_start_rn + 1 by construction.
    "q72_sessionize" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us
        |  FROM events),
        |g AS (SELECT *, CASE WHEN ts_us - lag(ts_us) OVER (
        |    PARTITION BY user_id ORDER BY ts_us, event_id)
        |    > 28800000000 THEN 1
        |  WHEN lag(ts_us) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id) IS NULL THEN 1
        |  ELSE 0 END AS nw FROM e),
        |s AS (SELECT *, CAST(SUM(nw) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS session_id FROM g)
        |SELECT event_id, user_id, ts_us, session_id,
        | row_number() OVER (PARTITION BY user_id, session_id
        |   ORDER BY ts_us, event_id) AS session_event
        |FROM s""".stripMargin,

    // Greedy earliest-feasible chain: each step's per-user min over
    // events strictly after the previous step's time.
    "q73_event_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us
        |  FROM events),
        |s1 AS (SELECT user_id, min(ts_us) AS t1_us FROM e
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts_us) AS t2_us FROM e
        |  JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts_us > s1.t1_us GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts_us) AS t3_us FROM e
        |  JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts_us > s2.t2_us GROUP BY 1)
        |SELECT s1.user_id, t1_us, t2_us, t3_us,
        | CAST(CASE WHEN t3_us IS NOT NULL THEN 3
        |      WHEN t2_us IS NOT NULL THEN 2 ELSE 1 END AS BIGINT)
        |   AS steps_completed
        |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)""".stripMargin,

    // RANGE framing on both engines (same-timestamp peers are mutual
    // members); integer-cent sums, exact on both sides.
    "q74_trailing_window" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |  CAST(round(value * 100) AS BIGINT) AS cents FROM events)
        |SELECT event_id, user_id, ts_us, cents,
        | CAST(count(*) OVER w AS BIGINT) AS w_count,
        | CAST(sum(cents) OVER w AS BIGINT) AS w_sum
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
        |  RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)""".stripMargin,

    // Calendar-free integer days (floor of ts_us / day_µs); the
    // distinct user-day reduction before the cell counts.
    "q75_retention_cohorts" ->
      """WITH e AS (SELECT user_id,
        |  CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS b
        | FROM events),
        |f AS (SELECT user_id, min(b) AS cohort_bucket FROM e GROUP BY 1),
        |ub AS (SELECT DISTINCT e.user_id, f.cohort_bucket,
        |   e.b - f.cohort_bucket AS bucket_offset
        | FROM e JOIN f USING (user_id))
        |SELECT cohort_bucket, bucket_offset, count(*) AS n_active
        |FROM ub GROUP BY 1, 2""".stripMargin,

    // quantile_disc == percentile_approx@10000 below the accuracy (the
    // q45 argument); strict-greater bucket arithmetic, boundary ties
    // land low on both engines.
    "q81_quantile_buckets" ->
      """WITH b AS (SELECT lang,
        |  quantile_disc(n_chars, 0.25) AS q1,
        |  quantile_disc(n_chars, 0.5) AS q2,
        |  quantile_disc(n_chars, 0.75) AS q3
        | FROM documents GROUP BY 1)
        |SELECT d.doc_id, d.lang, d.n_chars,
        | CAST(1 + (CASE WHEN d.n_chars > b.q1 THEN 1 ELSE 0 END)
        |   + (CASE WHEN d.n_chars > b.q2 THEN 1 ELSE 0 END)
        |   + (CASE WHEN d.n_chars > b.q3 THEN 1 ELSE 0 END) AS BIGINT) AS bucket
        |FROM documents d JOIN b USING (lang)""".stripMargin,

    // DuckDB's 1-based inclusive slice ws[a+1 : a+32] == Spark
    // slice(ws, a+1, 32); ceil window count over the same double
    // division.
    "q79_chunk_windows" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |  FROM documents WHERE text IS NOT NULL AND length(text) >= 1),
        |n AS (SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS nt,
        |  greatest(CAST(ceil((len(ws) - 32) / 24.0) AS BIGINT) + 1, 1) AS nw
        | FROM w),
        |c AS (SELECT doc_id, ws, nt,
        |  unnest(generate_series(0, nw - 1)) AS chunk_idx FROM n)
        |SELECT doc_id, chunk_idx, chunk_idx * 24 AS tok_start,
        | array_to_string(ws[chunk_idx * 24 + 1 : chunk_idx * 24 + 32], ' ')
        |   AS chunk_text,
        | least(32, nt - chunk_idx * 24) AS n_tokens
        |FROM c""".stripMargin,

    // q64's quantization fragments, summed per label; the array
    // projected to q61-style hash-stable facts.
    "q80_label_centroids" ->
      """WITH qz AS (SELECT vec_id, label, embedding,
        |    list_max(list_transform(embedding,
        |      x -> abs(CAST(x AS DOUBLE)))) AS s
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |qv AS (SELECT vec_id, label,
        |    CASE WHEN s = 0 THEN list_transform(embedding,
        |           x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(embedding,
        |           x -> CAST(round(CAST(x AS DOUBLE) * 127 / s) AS BIGINT))
        |    END AS q
        |  FROM qz),
        |e0 AS (SELECT label, q,
        |    unnest(generate_series(0, len(q) - 1)) AS pos FROM qv),
        |e AS (SELECT label, pos, q[pos + 1] AS qd FROM e0),
        |c AS (SELECT label, pos, sum(qd) AS cd FROM e GROUP BY 1, 2),
        |a AS (SELECT label, list(cd ORDER BY pos) AS cent,
        |    sum(cd) AS c_sum FROM c GROUP BY 1),
        |k AS (SELECT label, count(embedding) AS n_vecs,
        |    sum(CASE WHEN embedding IS NULL THEN 1 ELSE 0 END) AS n_null
        |  FROM embeddings GROUP BY 1)
        |SELECT k.label, CAST(k.n_vecs AS BIGINT) AS n_vecs,
        | CAST(k.n_null AS BIGINT) AS n_null,
        | md5(array_to_string(list_transform(a.cent,
        |   x -> CAST(x AS VARCHAR)), ',')) AS c_md5,
        | CAST(a.c_sum AS BIGINT) AS c_sum
        |FROM k JOIN a USING (label)""".stripMargin,

    // q66's construction with the incoming side UNCAPPED (the live
    // form's contract: only the static index is occupancy-capped);
    // the static side carries the same probes=4 registration cells.
    "q78_cosine_ingest" ->
      s"""WITH b0 AS (SELECT *, ${(0 until 8).map(i =>
            s"(CASE WHEN embedding[${i + 1}] >= 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")} AS bkt
        |  FROM embeddings),
        |i AS (SELECT * FROM b0 WHERE vec_id % 4 <> 0),
        |${OSql.refProbeCte(probes = 4)}
        |r AS (SELECT * FROM rall
        |  QUALIFY count(*) OVER (PARTITION BY bkt) <= $LshMaxBucket),
        |m AS (SELECT DISTINCT i.vec_id FROM i JOIN r ON i.bkt = r.bkt
        |  WHERE ${OSql.cosSql("i.embedding", "r.embedding")} >= 0.3)
        |SELECT vec_id, label FROM embeddings
        |WHERE vec_id % 4 <> 0 AND vec_id NOT IN (SELECT vec_id FROM m)""".stripMargin,

    // The cross-multiplied z-inequality in HUGEINT — DuckDB's exact
    // 128-bit integers mirror Spark's DECIMAL(38,0) arithmetic.
    "q76_group_outliers" ->
      """WITH e AS (SELECT event_id, event_type,
        |  CAST(round(value) AS BIGINT) AS units FROM events),
        |m AS (SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
        |  CAST(sum(CAST(units AS HUGEINT)) AS HUGEINT) AS s,
        |  CAST(sum(CAST(units AS HUGEINT) * units) AS HUGEINT) AS q
        | FROM e GROUP BY 1)
        |SELECT e.event_id, e.event_type, e.units,
        | CAST(m.n AS BIGINT) AS n_group,
        | ((m.n * e.units - m.s) * (m.n * e.units - m.s)
        |   > 9 * (m.n * m.q - m.s * m.s)) AS is_outlier
        |FROM e JOIN m USING (event_type)""".stripMargin,

    // Rational-IDF BM25 (the log's argument as the weight — no libm);
    // every constant forced through ::DOUBLE so both engines fold the
    // identical IEEE tree; per-term scores rounded to 6 dp and summed
    // as DECIMAL (exact, order-free); heap tie order = (score desc,
    // doc_id asc).
    "q82_bm25_topk" ->
      s"""WITH ${OSql.bm25Ctes}
        |SELECT query_id, doc_id, score, rank FROM (
        | SELECT query_id, doc_id, score, row_number() OVER (
        |   PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
        | FROM sc) WHERE rank <= 10""".stripMargin,

    // Winnowing replay: k-gram hashes positionally (NOT distinct), one
    // whole-list window when grams <= w (the slice clamps), sliding
    // list_min otherwise; fingerprints = the distinct selected values.
    // Same md5 hash60 construction as q23/q67.
    "q83_winnow_pairs" ->
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents WHERE len(string_split(text, ' ')) >= 4),
        |g AS (SELECT doc_id, list_transform(
        |    generate_series(1, len(w) - 3),
        |    i -> CAST(('0x'||substr(md5(array_to_string(w[i:i+3], ' ')),
        |      1, 15)) AS BIGINT)) AS gh
        |  FROM ws),
        |f0 AS (SELECT doc_id, unnest(list_transform(
        |    generate_series(1, greatest(len(gh) - 3, 1)),
        |    j -> list_min(gh[j:j+3]))) AS fp
        |  FROM g),
        |fp AS (SELECT DISTINCT doc_id, fp FROM f0),
        |nf AS (SELECT doc_id, fp, count(*) OVER (PARTITION BY doc_id)
        |    AS nfp FROM fp),
        |capped AS (SELECT * FROM (SELECT *, count(*) OVER (PARTITION BY
        |    fp) AS df FROM nf) WHERE df <= 100),
        |p AS (SELECT x.doc_id AS a, y.doc_id AS b, x.nfp AS na,
        |   y.nfp AS nb, count(*) AS shared
        | FROM capped x JOIN capped y ON x.fp = y.fp AND x.doc_id < y.doc_id
        | GROUP BY 1, 2, 3, 4 HAVING count(*) >= 2)
        |SELECT a, b, CAST(shared AS BIGINT) AS shared,
        | round(CAST(shared AS DOUBLE) / CAST(least(na, nb) AS DOUBLE), 6)
        |   AS overlap
        |FROM p""".stripMargin,

    // Position self-join replays the nested-lambda pair scan (x.pos <
    // y.pos <= x.pos + 3, unordered least/greatest at occurrence
    // level); rational PMI = n_ab·N/(n_a·n_b), same ::DOUBLE tree;
    // rank by (n_ab desc, md5-hash60(pair) asc) — the heap's order.
    "q84_cooccur_topk" ->
      """WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '),
        |    x -> x <> '') AS ws FROM documents),
        |p0 AS (SELECT doc_id, unnest(ws) AS tok,
        |    unnest(generate_series(1, len(ws))) AS pos FROM w),
        |pr AS (SELECT least(x.tok, y.tok) AS tok_a,
        |    greatest(x.tok, y.tok) AS tok_b, count(*) AS n_ab
        |  FROM p0 x JOIN p0 y ON x.doc_id = y.doc_id
        |    AND y.pos > x.pos AND y.pos <= x.pos + 3
        |  GROUP BY 1, 2 HAVING count(*) >= 5),
        |uni AS (SELECT tok, count(*) AS n FROM p0 GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM p0),
        |sc AS (SELECT tok_a, tok_b, n_ab,
        |   round(CAST(n_ab AS DOUBLE) * tot.nn
        |     / (CAST(ua.n AS DOUBLE) * CAST(ub.n AS DOUBLE)), 6)
        |     AS pmi_ratio,
        |   CAST(('0x'||substr(md5(tok_a||' '||tok_b),1,15)) AS BIGINT)
        |     AS pid
        | FROM pr CROSS JOIN tot
        |   JOIN uni ua ON pr.tok_a = ua.tok
        |   JOIN uni ub ON pr.tok_b = ub.tok)
        |SELECT tok_a, tok_b, CAST(n_ab AS BIGINT) AS n_ab, pmi_ratio,
        |  rank
        |FROM (SELECT *, row_number() OVER (ORDER BY n_ab DESC, pid ASC)
        |   AS rank FROM sc) WHERE rank <= 20""".stripMargin,

    // Exact HUGEINT moments (the q76 mirror of DECIMAL(38,0)); floats
    // only in the last step — one cast per moment, same IEEE tree.
    "q85_drift_by_group" ->
      """WITH e AS (SELECT event_type,
        |   CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS x,
        |   CAST(round(value) AS BIGINT) AS y FROM events),
        |m AS (SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
        |   sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
        |   sum(CAST(x AS HUGEINT) * x) AS sxx,
        |   sum(CAST(y AS HUGEINT) * y) AS syy,
        |   sum(CAST(x AS HUGEINT) * y) AS sxy
        | FROM e GROUP BY 1),
        |c AS (SELECT event_type, n, n * sxy - sx * sy AS cov,
        |   n * sxx - sx * sx AS vx, n * syy - sy * sy AS vy FROM m)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        | CASE WHEN vx = 0 THEN NULL ELSE
        |   round(CAST(cov AS DOUBLE) / CAST(vx AS DOUBLE), 6) END AS slope,
        | CASE WHEN vx = 0 OR vy = 0 THEN NULL ELSE
        |   round((CASE WHEN cov < 0 THEN -1.0 ELSE 1.0 END)
        |     * CAST(cov AS DOUBLE) * CAST(cov AS DOUBLE)
        |     / (CAST(vx AS DOUBLE) * CAST(vy AS DOUBLE)), 6)
        |   END AS corr2_signed
        |FROM c""".stripMargin,

    // Per-user endpoints by (ts_us, event_id) — the argmin/argmax
    // aggregate replayed as rank-1 windows (oracle-side only; the
    // engine never sorts per user).
    "q86_attribution" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |   epoch_us(ts) AS ts_us FROM events),
        |f AS (SELECT user_id, event_type AS first_touch FROM
        |  (SELECT user_id, event_type, row_number() OVER (
        |     PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC)
        |     AS rn FROM e) WHERE rn = 1),
        |l AS (SELECT user_id, event_type AS last_touch FROM
        |  (SELECT user_id, event_type, row_number() OVER (
        |     PARTITION BY user_id ORDER BY ts_us DESC, event_id DESC)
        |     AS rn FROM e) WHERE rn = 1),
        |n AS (SELECT user_id, count(*) AS c FROM e GROUP BY 1)
        |SELECT f.first_touch, l.last_touch,
        | count(*) AS n_users, CAST(sum(n.c) AS BIGINT) AS n_events
        |FROM f JOIN l USING (user_id) JOIN n USING (user_id)
        |GROUP BY 1, 2""".stripMargin,

    // quantile_disc boundaries (the q81 accuracy argument), integer
    // clamp, exact integer sums, one double division at 6 dp.
    "q87_winsorized_mean" ->
      """WITH b AS (SELECT lang, quantile_disc(n_chars, 0.05) AS lo,
        |   quantile_disc(n_chars, 0.95) AS hi
        | FROM documents GROUP BY 1)
        |SELECT d.lang, count(*) AS n,
        | CAST(b.lo AS BIGINT) AS lo_bound, CAST(b.hi AS BIGINT) AS hi_bound,
        | round(CAST(sum(CAST(d.n_chars AS HUGEINT)) AS DOUBLE)
        |   / CAST(count(*) AS DOUBLE), 6) AS mean_raw,
        | round(CAST(sum(CAST(greatest(b.lo, least(d.n_chars, b.hi))
        |     AS HUGEINT)) AS DOUBLE)
        |   / CAST(count(*) AS DOUBLE), 6) AS mean_winsorized
        |FROM documents d JOIN b USING (lang)
        |GROUP BY 1, 3, 4""".stripMargin,

    // One wide scalar aggregate melted to the long report; exact
    // integer metrics only (the uniqueness check is count - count
    // distinct, not a sketch).
    "q88_quality_check" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |   CAST(round(value) AS BIGINT) AS units FROM events),
        |w AS (SELECT count(*) AS n,
        |  sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS v1,
        |  count(event_id) - count(DISTINCT event_id) AS v2,
        |  sum(CASE WHEN units IS NOT NULL AND (units < 0 OR units > 100)
        |      THEN 1 ELSE 0 END) AS v3,
        |  sum(CASE WHEN event_type IS NOT NULL AND event_type NOT IN
        |      ('view','click','purchase','signup','error')
        |      THEN 1 ELSE 0 END) AS v4
        | FROM e)
        |SELECT CAST(1 AS BIGINT) AS rank, 'not_null(user_id)' AS rule,
        |  'user_id' AS col_name, n AS n_rows,
        |  CAST(v1 AS BIGINT) AS n_violations, v1 = 0 AS passed FROM w
        |UNION ALL SELECT 2, 'unique(event_id)', 'event_id', n,
        |  CAST(v2 AS BIGINT), v2 = 0 FROM w
        |UNION ALL SELECT 3, 'in_range(units,0,100)', 'units', n,
        |  CAST(v3 AS BIGINT), v3 = 0 FROM w
        |UNION ALL SELECT 4, 'in_set(event_type)', 'event_type', n,
        |  CAST(v4 AS BIGINT), v4 = 0 FROM w""".stripMargin,

    // DuckDB ASOF with <= picks the nearest FOLLOWING row — the
    // forward direction, inclusive on exact-ts like the engine.
    "q89_asof_forward" ->
      """SELECT p.user_id, p.value AS purchase_val, s.value AS signup_val,
        | epoch_us(p.ts) AS ts_us
        |FROM (SELECT user_id, value, ts FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT user_id, value, ts FROM events WHERE event_type = 'signup') s
        |ON p.user_id = s.user_id AND p.ts <= s.ts""".stripMargin,

    // Nearest = both ASOF directions per purchase (joined back on the
    // unique event_id), closest by exact µs distance, ties backward.
    "q90_asof_nearest" ->
      """WITH p AS (SELECT event_id, user_id, value, ts FROM events
        |   WHERE event_type = 'purchase'),
        |s AS (SELECT user_id, value, ts FROM events
        |   WHERE event_type = 'signup'),
        |b AS (SELECT p.event_id, p.user_id, p.value, p.ts,
        |   s.value AS bv, s.ts AS bt
        | FROM p ASOF LEFT JOIN s
        |   ON p.user_id = s.user_id AND p.ts >= s.ts),
        |f AS (SELECT p.event_id, s.value AS fv, s.ts AS ft
        | FROM p ASOF LEFT JOIN s
        |   ON p.user_id = s.user_id AND p.ts <= s.ts)
        |SELECT b.user_id, b.value AS purchase_val,
        | CASE WHEN bv IS NULL THEN fv WHEN fv IS NULL THEN bv
        |   WHEN epoch_us(b.ts) - epoch_us(bt) <= epoch_us(ft) - epoch_us(b.ts)
        |   THEN bv ELSE fv END AS signup_val,
        | epoch_us(b.ts) AS ts_us
        |FROM b JOIN f USING (event_id)""".stripMargin,

    // The five standalone stage oracles composed over a filtered base:
    // q38/q39's normalization, q23's capped shingle pairs, q47's
    // recursive-CTE clusters, q71's hash-rank cap, q44's basis-point
    // split — each stage's constants identical to its standalone query.
    "q91_curation_e2e" ->
      """WITH RECURSIVE base AS (SELECT doc_id, text, lang, source
        |  FROM documents WHERE n_chars >= 100 AND n_chars <= 5000),
        |nk AS (SELECT doc_id, md5(trim(regexp_replace(lower(
        |    regexp_replace(text, '[^A-Za-z0-9 ]', ' ', 'g')),
        |    ' +', ' ', 'g'))) AS k FROM base),
        |d1 AS (SELECT b.* FROM base b JOIN (SELECT min(doc_id) AS doc_id
        |   FROM nk GROUP BY k) keep USING (doc_id)),
        |w AS (SELECT doc_id, string_split(text,' ') AS ws FROM d1),
        |s0 AS (SELECT doc_id, CASE WHEN len(ws) >= 3 THEN
        |    list_distinct(list_transform(generate_series(1, len(ws)-2),
        |      i -> array_to_string(ws[i:i+2], ' '))) ELSE [] END AS shs
        |  FROM w),
        |sh AS (SELECT doc_id, len(shs) AS nsh, unnest(shs) AS sh FROM s0),
        |shh AS (SELECT doc_id, nsh,
        |   CAST(('0x'||substr(md5(sh),1,15)) AS BIGINT) AS sh FROM sh),
        |capped AS (SELECT * FROM (SELECT *, count(*) OVER (PARTITION BY
        |   sh) AS df FROM shh) WHERE df <= 100),
        |pairs AS (SELECT x.doc_id AS a, y.doc_id AS b
        | FROM capped x JOIN capped y ON x.sh = y.sh AND x.doc_id < y.doc_id
        | GROUP BY 1, 2, x.nsh, y.nsh
        | HAVING round(count(*)::DOUBLE / (x.nsh + y.nsh - count(*)), 6) >= 0.5),
        |edges AS (SELECT a, b FROM pairs
        |  UNION ALL SELECT b AS a, a AS b FROM pairs),
        |reach(id, lab) AS (
        | SELECT doc_id, doc_id FROM d1
        | UNION
        | SELECT e.a, r.lab FROM edges e JOIN reach r ON r.id = e.b),
        |d2 AS (SELECT d1.* FROM d1 JOIN (SELECT id AS doc_id
        |   FROM (SELECT id, min(lab) AS cluster FROM reach GROUP BY 1)
        |   WHERE cluster = id) k2 USING (doc_id)),
        |cap AS (SELECT doc_id, lang, source FROM (SELECT d2.*,
        |   CAST(('0x'||substr(md5('cur1'||CAST(doc_id AS VARCHAR)),1,15))
        |     AS BIGINT) % 4503599627370496 AS r FROM d2)
        | QUALIFY row_number() OVER (PARTITION BY source
        |   ORDER BY r ASC, doc_id ASC) <= 40)
        |SELECT doc_id, lang, source FROM cap
        |WHERE CAST(('0x'||substr(md5('cur1'||CAST(doc_id AS VARCHAR)),1,15))
        |   AS BIGINT) % 10000 < 8000""".stripMargin,

    // q61's quantization replay, then the projection components as
    // generated exact-integer sums — the ±1 matrix is baked from the
    // SAME jlSign constants as the operator (the OSql convention), so
    // matrix drift is impossible.
    "q92_random_project" -> {
      val comps = (0 until 16).map { j =>
        (0 until 64).map { i =>
          val s = graft.ops.Similarity.jlSign("jl1", i, j)
          s"qv[${i + 1}]*($s)"
        }.mkString("+")
      }.map(e => s"CAST($e AS BIGINT)").mkString(", ")
      s"""WITH q AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding,
        |      x -> abs(CAST(x AS DOUBLE)))) AS s
        |  FROM embeddings),
        |v AS (SELECT vec_id,
        |    CASE WHEN embedding IS NULL THEN NULL
        |         WHEN s = 0 THEN list_transform(embedding,
        |           x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(embedding,
        |           x -> CAST(round(CAST(x AS DOUBLE) * 127 / s) AS BIGINT))
        |    END AS qv
        |  FROM q),
        |p AS (SELECT vec_id, CASE WHEN qv IS NULL THEN NULL
        |    ELSE [$comps] END AS proj FROM v)
        |SELECT vec_id,
        |  md5(array_to_string(list_transform(proj,
        |    x -> CAST(x AS VARCHAR)), ',')) AS p_md5,
        |  CAST(list_sum(proj) AS BIGINT) AS p_sum
        |FROM p""".stripMargin
    },

    // The global sweep the engine computes bucketed: running sum over
    // (ts, delta) with ends (−1 at e+1) releasing before same-instant
    // starts, peak per day bucket.
    "q93_concurrency" ->
      """WITH spans AS (SELECT user_id, min(epoch_us(ts)) AS s_us,
        |   max(epoch_us(ts)) AS e_us FROM events GROUP BY 1),
        |d AS (SELECT s_us AS ts, CAST(1 AS BIGINT) AS dl FROM spans
        | UNION ALL SELECT e_us + 1, -1 FROM spans),
        |r AS (SELECT CAST(floor(ts / 86400000000) AS BIGINT) AS bucket, dl,
        |   sum(dl) OVER (ORDER BY ts, dl
        |     ROWS UNBOUNDED PRECEDING) AS run FROM d)
        |SELECT bucket,
        | CAST(max(greatest(run, run - dl)) AS BIGINT) AS peak_concurrent,
        | CAST(sum(CASE WHEN dl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_starts,
        | CAST(sum(CASE WHEN dl = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_ends
        |FROM r GROUP BY 1""".stripMargin,

    // Same simulated drops, full outer on the id, md5 content compare,
    // unchanged dropped (delta-sized output).
    "q94_snapshot_diff" ->
      """WITH o AS (SELECT doc_id, md5(text) AS h FROM documents
        |   WHERE doc_id % 7 <> 0),
        |n AS (SELECT doc_id, md5(CASE WHEN doc_id % 11 = 0
        |     THEN text || ' rev2' ELSE text END) AS h
        |  FROM documents WHERE doc_id % 5 <> 0)
        |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        | CASE WHEN o.h IS NULL THEN 'added'
        |      WHEN n.h IS NULL THEN 'removed'
        |      WHEN o.h <> n.h THEN 'changed' END AS status
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
        |WHERE CASE WHEN o.h IS NULL THEN 'added'
        |      WHEN n.h IS NULL THEN 'removed'
        |      WHEN o.h <> n.h THEN 'changed' END IS NOT NULL""".stripMargin,

    // The hashed LM regenerated from scratch: counts over the same
    // unigram+bigram grams (q65's gram CTE) hashed into LmBuckets,
    // per-gram term = round(ln((c+1)/(T+B))·1e6) as BIGINT micro-nats
    // (order-free integer sum — the engine folds the same terms from a
    // literal array), mean = micro/1e6/n at 6 dp.
    "q95_lm_score" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (SELECT doc_id, list_concat(ws,
        |    CASE WHEN len(ws) >= 2 THEN list_transform(
        |      generate_series(1, len(ws) - 1), i -> ws[i] || ' ' || ws[i + 1])
        |    ELSE [] END) AS gs FROM w),
        |rg AS (SELECT unnest(gs) AS t FROM g WHERE doc_id % 10 = 0),
        |cb AS (SELECT CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)
        |    % $LmBuckets AS b, CAST(count(*) AS BIGINT) AS c
        |  FROM rg GROUP BY 1),
        |tot AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS t FROM cb),
        |sg AS (SELECT doc_id, unnest(gs) AS t FROM g WHERE doc_id % 10 <> 0),
        |sb AS (SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)
        |    % $LmBuckets AS b FROM sg),
        |term AS (SELECT sb.doc_id,
        |   CAST(round(ln(CAST(coalesce(cb.c, 0) + 1 AS DOUBLE)
        |     / CAST(tot.t + $LmBuckets AS DOUBLE)) * 1000000) AS BIGINT) AS tm
        | FROM sb LEFT JOIN cb USING (b) CROSS JOIN tot)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        | CAST(sum(tm) AS BIGINT) AS score_micro,
        | round(CAST(sum(tm) AS DOUBLE) / 1000000.0
        |   / CAST(count(*) AS DOUBLE), 6) AS mean_score
        |FROM term GROUP BY doc_id""".stripMargin,

    // Two LMs (target = English docs, background = the rest), per-gram
    // term = difference of the two micro-nat log-probs — identical to
    // the engine's driver-side term-table subtraction since both
    // engines round each side to BIGINT micros BEFORE subtracting.
    "q96_dsir_weights" ->
      s"""WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS ws
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (SELECT doc_id, lang, list_concat(ws,
        |    CASE WHEN len(ws) >= 2 THEN list_transform(
        |      generate_series(1, len(ws) - 1), i -> ws[i] || ' ' || ws[i + 1])
        |    ELSE [] END) AS gs FROM w),
        |tb AS (SELECT CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)
        |    % $LmBuckets AS b, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(gs) AS t FROM g WHERE lang = 'en') GROUP BY 1),
        |tt AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS t FROM tb),
        |bb AS (SELECT CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)
        |    % $LmBuckets AS b, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(gs) AS t FROM g WHERE lang <> 'en') GROUP BY 1),
        |bt AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS t FROM bb),
        |sg AS (SELECT doc_id, unnest(gs) AS t FROM g),
        |sb AS (SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)
        |    % $LmBuckets AS b FROM sg),
        |term AS (SELECT sb.doc_id,
        |   CAST(round(ln(CAST(coalesce(tb.c, 0) + 1 AS DOUBLE)
        |     / CAST(tt.t + $LmBuckets AS DOUBLE)) * 1000000) AS BIGINT)
        |   - CAST(round(ln(CAST(coalesce(bb.c, 0) + 1 AS DOUBLE)
        |     / CAST(bt.t + $LmBuckets AS DOUBLE)) * 1000000) AS BIGINT) AS tm
        | FROM sb LEFT JOIN tb USING (b) LEFT JOIN bb USING (b)
        |   CROSS JOIN tt CROSS JOIN bt)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        | CAST(sum(tm) AS BIGINT) AS w_micro,
        | round(CAST(sum(tm) AS DOUBLE) / 1000000.0
        |   / CAST(count(*) AS DOUBLE), 6) AS mean_w
        |FROM term GROUP BY doc_id""".stripMargin,

    // Two-level aggregate: (source, lang) counts/char sums, per-source
    // totals, then Shannon entropy of the language mix as a sum of
    // per-lang micro-nat terms (each rounded to BIGINT before the sum,
    // so the addition is order-free — the engine's exact trick).
    "q97_source_card" ->
      """WITH cl AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS c,
        |    CAST(sum(n_chars) AS BIGINT) AS s FROM documents GROUP BY 1, 2),
        |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_rows,
        |    CAST(sum(s) AS BIGINT) AS total_size,
        |    CAST(count(*) AS BIGINT) AS n_subgroups FROM cl GROUP BY 1),
        |ent AS (SELECT cl.source, CAST(sum(CAST(round(
        |     (CAST(c AS DOUBLE) / CAST(n_rows AS DOUBLE))
        |     * ln(CAST(c AS DOUBLE) / CAST(n_rows AS DOUBLE))
        |     * -1000000.0) AS BIGINT)) AS BIGINT) AS entropy_micro
        |  FROM cl JOIN tot USING (source) GROUP BY 1)
        |SELECT tot.source, n_rows, total_size, n_subgroups, entropy_micro,
        |  round(CAST(entropy_micro AS DOUBLE) / 1000000.0, 6) AS entropy
        |FROM tot JOIN ent USING (source)""".stripMargin,

    // q37's assignment CTE (6-dp cosine argmax, ties to the lowest
    // centroid id) + q61's quantization + q80's positional-explode
    // integer centroid sums, projected to the same hash-stable facts.
    "q98_kmeans_step" ->
      s"""WITH c AS (SELECT vec_id AS cid, embedding AS cvec
        |  FROM embeddings WHERE vec_id < 8),
        |a0 AS (SELECT e.vec_id, e.embedding, c.cid,
        |  ${OSql.cosSql("e.embedding", "c.cvec")} AS cc
        | FROM embeddings e CROSS JOIN c WHERE e.embedding IS NOT NULL),
        |a AS (SELECT vec_id, embedding, cid FROM a0
        |  QUALIFY row_number() OVER (PARTITION BY vec_id
        |    ORDER BY cc DESC, cid ASC) = 1),
        |qz AS (SELECT cid, embedding,
        |    list_max(list_transform(embedding,
        |      x -> abs(CAST(x AS DOUBLE)))) AS s FROM a),
        |qv AS (SELECT cid,
        |    CASE WHEN s = 0 THEN list_transform(embedding,
        |           x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(embedding,
        |           x -> CAST(round(CAST(x AS DOUBLE) * 127 / s) AS BIGINT))
        |    END AS q
        |  FROM qz),
        |e0 AS (SELECT cid, q,
        |    unnest(generate_series(0, len(q) - 1)) AS pos FROM qv),
        |e AS (SELECT cid, pos, q[pos + 1] AS qd FROM e0),
        |cs AS (SELECT cid, pos, CAST(sum(qd) AS BIGINT) AS cd
        |  FROM e GROUP BY 1, 2),
        |arr AS (SELECT cid, list(cd ORDER BY pos) AS csum FROM cs GROUP BY 1),
        |n AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_vecs FROM a GROUP BY 1)
        |SELECT CAST(arr.cid AS BIGINT) AS cluster, n.n_vecs,
        |  md5(array_to_string(list_transform(csum,
        |    x -> CAST(x AS VARCHAR)), ',')) AS c_md5,
        |  CAST(list_sum(csum) AS BIGINT) AS c_sum
        |FROM arr JOIN n USING (cid)""".stripMargin,

    // lead over the same (user, ts, event_id) order every Events query
    // uses; share = edge count / source out-degree.
    "q99_transitions" ->
      """WITH t AS (SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS nxt
        |  FROM events),
        |c AS (SELECT event_type AS from_type, nxt AS to_type,
        |    CAST(count(*) AS BIGINT) AS n_trans
        |  FROM t WHERE nxt IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n_trans,
        |  round(CAST(n_trans AS DOUBLE) /
        |    CAST(sum(n_trans) OVER (PARTITION BY from_type) AS DOUBLE), 6)
        |    AS share
        |FROM c""".stripMargin,

    // q23's pair pipeline at a 0.1 floor, 20 similarity bins, and the
    // descending cumulative count (default RANGE frame on both
    // engines); a 1.0 score clamps into the last bin.
    "q100_threshold_sweep" ->
      s"""${OSql.shingleCte},
        |shh AS (SELECT doc_id, nsh, CAST(('0x'||substr(md5(sh),1,15)) AS BIGINT) AS sh FROM sh),
        |capped AS (SELECT * FROM (SELECT *, count(*) OVER (PARTITION BY sh) AS df FROM shh) WHERE df <= 100),
        |p AS (SELECT x.doc_id AS a, y.doc_id AS b,
        |  round(count(*)::DOUBLE / (x.nsh + y.nsh - count(*)), 6) AS jaccard
        | FROM capped x JOIN capped y ON x.sh = y.sh AND x.doc_id < y.doc_id
        | GROUP BY 1, 2, x.nsh, y.nsh
        | HAVING round(count(*)::DOUBLE / (x.nsh + y.nsh - count(*)), 6) >= 0.1),
        |h AS (SELECT least(CAST(floor(jaccard * 20) AS BIGINT), 19) AS bin,
        |   CAST(count(*) AS BIGINT) AS n_pairs FROM p GROUP BY 1)
        |SELECT bin, round(CAST(bin AS DOUBLE) / 20.0, 6) AS bin_lo, n_pairs,
        | CAST(sum(n_pairs) OVER (ORDER BY bin DESC) AS BIGINT) AS n_pairs_ge
        |FROM h""".stripMargin,

    // Vocab-then-pairs (the BPE trainer's counting shape): word counts,
    // adjacent code-point pairs per distinct word, weighted sums, top-20
    // by count with md5-hash ties — substr is code-point-based on both
    // engines.
    "q101_bpe_pairs" ->
      """WITH w0 AS (SELECT unnest(string_split(text, ' ')) AS w
        |  FROM documents WHERE text IS NOT NULL),
        |wc AS (SELECT w, CAST(count(*) AS BIGINT) AS wc FROM w0
        |  WHERE length(w) >= 2 GROUP BY 1),
        |p0 AS (SELECT unnest(list_transform(
        |    generate_series(1, length(w) - 1),
        |    i -> substr(w, CAST(i AS INT), 2))) AS pair, wc FROM wc),
        |pc AS (SELECT pair, CAST(sum(wc) AS BIGINT) AS n_occ,
        |    CAST(('0x'||substr(md5(pair),1,15)) AS BIGINT) AS pid
        |  FROM p0 GROUP BY 1)
        |SELECT pair, n_occ, rank FROM (
        | SELECT pair, n_occ, row_number() OVER (
        |   ORDER BY n_occ DESC, pid ASC) AS rank FROM pc)
        |WHERE rank <= 20""".stripMargin,

    // The pivot as five CASE sums; n_events sums the listed columns
    // (not count(*)), matching the engine's ignore-unlisted contract.
    "q102_activity_profile" -> {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val cases = types.map(t =>
        s"CAST(sum(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS $t")
        .mkString(",\n| ")
      s"""SELECT user_id,
        | $cases,
        | CAST(${types.map(t => s"sum(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END)").mkString(" + ")} AS BIGINT) AS n_events
        |FROM events GROUP BY 1""".stripMargin
    },

    // Priority sampling: u = (hash52 + 1)/2^52 exact, pri = w/u one
    // correctly-rounded division — identical order on both engines;
    // double ties break by doc_id asc (the heap's tie rule).
    "q103_weighted_cap" ->
      """WITH p AS (SELECT doc_id, source, n_chars,
        |  CAST(n_chars AS DOUBLE) / (CAST((CAST(('0x'||substr(md5('wc1'||CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT)
        |    % 4503599627370496 + 1) AS DOUBLE) / 4503599627370496.0) AS pri
        | FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0)
        |SELECT doc_id, source, n_chars FROM (
        | SELECT doc_id, source, n_chars,
        |   row_number() OVER (PARTITION BY source ORDER BY pri DESC, doc_id ASC) AS rnk
        | FROM p) WHERE rnk <= 15""".stripMargin,

    // Rational tf-idf (tf·N/df, no libm): N = tokenized docs, one
    // double division, ties by the md5 token hash ascending.
    "q104_keywords_tfidf" ->
      """WITH t0 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents WHERE text IS NOT NULL),
        |t AS (SELECT doc_id, token FROM t0 WHERE len(token) > 0),
        |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM t GROUP BY 1, 2),
        |dft AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |nd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM tf),
        |s AS (SELECT tf.doc_id, tf.token,
        |   CAST(tf.tf * nd.n AS DOUBLE) / CAST(dft.df AS DOUBLE) AS pri,
        |   CAST(('0x'||substr(md5(tf.token),1,15)) AS BIGINT) AS tid
        | FROM tf JOIN dft USING (token) CROSS JOIN nd)
        |SELECT doc_id, token, round(pri, 6) AS tfidf, rank FROM (
        | SELECT doc_id, token, pri,
        |   row_number() OVER (PARTITION BY doc_id ORDER BY pri DESC, tid ASC) AS rank
        | FROM s) WHERE rank <= 3""".stripMargin,

    // Code-point class counts via delete-and-measure; the character
    // classes are dialect-neutral, and both engines' length() counts
    // code points.
    "q105_script_mix" ->
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_cp,
        | round(CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS DOUBLE) / length(text), 6) AS latin_frac,
        | round(CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) / length(text), 6) AS digit_frac,
        | round(CAST(length(text) - length(regexp_replace(text, '[ \t\n\r]', '', 'g')) AS DOUBLE) / length(text), 6) AS space_frac,
        | round(CAST(length(text) - length(regexp_replace(text, '[\x{4e00}-\x{9fa5}]', '', 'g')) AS DOUBLE) / length(text), 6) AS cjk_frac,
        | round(CAST(length(text)
        |   - (length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')))
        |   - (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
        |   - (length(text) - length(regexp_replace(text, '[ \t\n\r]', '', 'g')))
        |   - (length(text) - length(regexp_replace(text, '[\x{4e00}-\x{9fa5}]', '', 'g')))
        |   AS DOUBLE) / length(text), 6) AS other_frac
        |FROM documents WHERE text IS NOT NULL AND length(text) >= 1""".stripMargin,

    // q46's multi-probe kNN skeleton with the reference restricted to
    // the unmasked third; majority vote with ties to the lowest label.
    "q106_label_prop" ->
      s"""WITH b0 AS (SELECT *, ${(0 until 8).map(i =>
            s"(CASE WHEN embedding[${i + 1}] >= 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")} AS bkt
        |  FROM embeddings),
        |lab AS (SELECT * FROM b0 WHERE vec_id % 3 = 0),
        |q AS (SELECT vec_id AS qid, embedding AS qv, unnest([bkt${(0 until 8).map(i =>
             s", xor(bkt, ${1L << i})").mkString}]) AS bkt
        |  FROM b0 WHERE vec_id % 3 <> 0),
        |nn AS (SELECT q.qid, e.vec_id AS id, e.label,
        |   ${OSql.cosSql("e.embedding", "q.qv")} AS cos
        | FROM lab e JOIN q ON e.bkt = q.bkt
        | QUALIFY row_number() OVER (PARTITION BY q.qid
        |   ORDER BY cos DESC, id ASC) <= 5),
        |v AS (SELECT qid, label, count(*) AS votes FROM nn GROUP BY 1, 2)
        |SELECT qid AS vec_id, label, CAST(votes AS BIGINT) AS votes FROM (
        | SELECT qid, label, votes, row_number() OVER (PARTITION BY qid
        |   ORDER BY votes DESC, label ASC) AS rn FROM v) WHERE rn = 1""".stripMargin,

    // percentile_disc via the histogram cumsum (RANGE default frame
    // counts value peers on both engines); all-integer cut decision.
    "q107_percentile_gate" ->
      """WITH h AS (SELECT source, n_chars, count(*) AS c FROM documents
        |  WHERE n_chars IS NOT NULL GROUP BY 1, 2),
        |cm AS (SELECT source, n_chars,
        |   sum(c) OVER (PARTITION BY source ORDER BY n_chars) AS cum,
        |   sum(c) OVER (PARTITION BY source) AS n FROM h),
        |t AS (SELECT source, min(n_chars) AS thr FROM cm
        |  WHERE cum * 10000 >= n * 2500 GROUP BY 1)
        |SELECT d.doc_id, d.source, d.n_chars, CAST(t.thr AS BIGINT) AS thr
        |FROM documents d JOIN t USING (source) WHERE d.n_chars >= t.thr""".stripMargin,

    // DuckDB ASOF carries the matched ts so the staleness cut is a
    // post-join exact-us CASE (ASOF itself has no tolerance clause).
    "q108_asof_within" ->
      """SELECT p.user_id, p.value AS purchase_val,
        | CASE WHEN s.ts IS NOT NULL
        |   AND epoch_us(p.ts) - epoch_us(s.ts) <= 21600000000
        |   THEN s.value END AS signup_val,
        | epoch_us(p.ts) AS ts_us
        |FROM (SELECT user_id, value, ts FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT user_id, value, ts FROM events WHERE event_type = 'signup') s
        |ON p.user_id = s.user_id AND p.ts >= s.ts""".stripMargin,

    // Identical hand-concatenated payloads; DuckDB detects corruption
    // with json_valid (the truncated 13th payloads lose their closing
    // brace), extracts typed fields from the valid ones, and the
    // corrupt rows aggregate under the NULL lang.
    "q109_json_ingest" ->
      """WITH j AS (SELECT doc_id AS src_id,
        |  CASE WHEN doc_id % 13 = 0
        |    THEN substr(js, 1, length(js) - 3) ELSE js END AS payload
        | FROM (SELECT doc_id, '{"doc_id":' || doc_id || ',"lang":"' || lang
        |    || '","n_chars":' || n_chars || '}' AS js FROM documents)),
        |p AS (SELECT src_id, NOT json_valid(payload) AS is_corrupt,
        |  CASE WHEN json_valid(payload)
        |    THEN json_extract_string(payload, '$.lang') END AS lang,
        |  CASE WHEN json_valid(payload)
        |    THEN CAST(json_extract(payload, '$.n_chars') AS BIGINT) END AS n_chars
        | FROM j)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(sum(CASE WHEN is_corrupt THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
        | CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM p GROUP BY 1""".stripMargin,

    // The n smallest salted 52-bit hashes corpus-wide, ties by id.
    "q110_exact_sample" ->
      """SELECT doc_id, source FROM (
        | SELECT doc_id, source, row_number() OVER (ORDER BY
        |   CAST(('0x'||substr(md5('xs1'||CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT)
        |     % 4503599627370496 ASC, doc_id ASC) AS rnk
        | FROM documents) WHERE rnk <= 100""".stripMargin,

    // q46's skeleton with the different-label cut inside the candidate
    // join.
    "q111_hard_negatives" ->
      s"""WITH b0 AS (SELECT *, ${(0 until 8).map(i =>
            s"(CASE WHEN embedding[${i + 1}] >= 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")} AS bkt
        |  FROM embeddings),
        |b AS (SELECT * FROM b0),
        |q AS (SELECT vec_id AS qid, embedding AS qv, label AS ql,
        |   unnest([bkt${(0 until 8).map(i => s", xor(bkt, ${1L << i})").mkString}]) AS bkt
        | FROM b0),
        |sc AS (SELECT q.qid, e.vec_id AS id,
        |  ${OSql.cosSql("e.embedding", "q.qv")} AS cos
        | FROM b e JOIN q ON e.bkt = q.bkt AND e.vec_id <> q.qid
        |   AND e.label <> q.ql)
        |SELECT qid, id, cos,
        | row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS rank
        |FROM sc
        |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) <= 3""".stripMargin,

    // Integer units x HUGEINT powers of two, un-scaled by one exact
    // binary shift; ages anchored at the corpus max ts.
    "q112_decayed_score" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us,
        |   CAST(round(value) AS BIGINT) AS units FROM events
        | WHERE ts IS NOT NULL AND value IS NOT NULL),
        |mx AS (SELECT max(ts_us) AS asof FROM e),
        |w AS (SELECT user_id,
        |   CAST(units AS HUGEINT)
        |     * CAST(power(2, 60 - floor((mx.asof - ts_us) / 86400000000)) AS HUGEINT) AS sc
        | FROM e CROSS JOIN mx
        | WHERE floor((mx.asof - ts_us) / 86400000000) BETWEEN 0 AND 60)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        | round(CAST(sum(sc) AS DOUBLE) / power(2, 60), 6) AS score
        |FROM w GROUP BY 1""".stripMargin,

    // q46's neighbor edges + two synchronous fixed-point rounds; all
    // arithmetic is truncating integer division on non-negative values
    // (DuckDB // == Spark div here), so the rounds agree bit-for-bit.
    "q113_knn_pagerank" ->
      s"""WITH b0 AS (SELECT *, ${OSql.bktSql(AnnBits)} AS bkt
        |  FROM embeddings),
        |b AS (SELECT * FROM b0),
        |q AS (SELECT vec_id AS qid, embedding AS qv,
        |  unnest(${OSql.probeSql(AnnBits, AnnHamming)}) AS bkt FROM b0),
        |nn AS (SELECT q.qid, e.vec_id AS id,
        |  ${OSql.cosSql("e.embedding", "q.qv")} AS cos
        | FROM b e JOIN q ON e.bkt = q.bkt AND e.vec_id <> q.qid
        | QUALIFY row_number() OVER (PARTITION BY q.qid
        |   ORDER BY cos DESC, id ASC) <= 3),
        |ed AS (SELECT qid AS src, id AS dst FROM nn),
        |deg AS (SELECT src, count(*) AS deg FROM ed GROUP BY 1),
        |n0 AS (SELECT vec_id, CAST(1000000000000 AS BIGINT) AS s FROM embeddings),
        |i1 AS (SELECT ed.dst, sum((8500 * (n0.s // deg.deg)) // 10000) AS inn
        |  FROM ed JOIN n0 ON ed.src = n0.vec_id JOIN deg USING (src) GROUP BY 1),
        |n1 AS (SELECT n0.vec_id, CAST(150000000000 + coalesce(i1.inn, 0) AS BIGINT) AS s
        |  FROM n0 LEFT JOIN i1 ON n0.vec_id = i1.dst),
        |i2 AS (SELECT ed.dst, sum((8500 * (n1.s // deg.deg)) // 10000) AS inn
        |  FROM ed JOIN n1 ON ed.src = n1.vec_id JOIN deg USING (src) GROUP BY 1),
        |n2 AS (SELECT n1.vec_id, CAST(150000000000 + coalesce(i2.inn, 0) AS BIGINT) AS s
        |  FROM n1 LEFT JOIN i2 ON n1.vec_id = i2.dst)
        |SELECT vec_id, s AS score_fp FROM n2""".stripMargin,

    // Change detection via IS DISTINCT FROM against the keyed lag
    // (null-safe, like the engine's struct <=> compare), then the
    // interval close and version number over the compacted rows.
    "q114_scd2_history" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us,
        |   event_id FROM events),
        |c AS (SELECT *, lag(event_type) OVER (PARTITION BY user_id
        |   ORDER BY ts_us, event_id) AS prev FROM e),
        |v AS (SELECT user_id, event_type, ts_us, event_id FROM c
        |  WHERE event_type IS DISTINCT FROM prev)
        |SELECT user_id, event_type, valid_from, valid_to, version,
        | valid_to IS NULL AS is_current FROM (
        | SELECT user_id, event_type, ts_us AS valid_from,
        |   lead(ts_us) OVER (PARTITION BY user_id
        |     ORDER BY ts_us, event_id) AS valid_to,
        |   CAST(row_number() OVER (PARTITION BY user_id
        |     ORDER BY ts_us, event_id) AS BIGINT) AS version
        | FROM v)""".stripMargin,

    // q72's session construction at a 30-minute gap; per-session paths
    // via the ordered list aggregate sliced to 5 steps; top-10 with
    // ASCII path tie-break.
    "q115_top_journeys" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |   epoch_us(ts) AS ts_us FROM events),
        |g AS (SELECT *, CASE WHEN ts_us - lag(ts_us) OVER (
        |    PARTITION BY user_id ORDER BY ts_us, event_id)
        |    > 1800000000 THEN 1
        |  WHEN lag(ts_us) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id) IS NULL THEN 1
        |  ELSE 0 END AS nw FROM e),
        |s AS (SELECT *, SUM(nw) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM g),
        |p AS (SELECT user_id, session_id,
        |   array_to_string(list_slice(
        |     list(event_type ORDER BY ts_us, event_id), 1, 5), ' > ') AS path
        | FROM s GROUP BY 1, 2),
        |n AS (SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
        | FROM p GROUP BY 1)
        |SELECT path, n_sessions,
        | CAST(row_number() OVER (ORDER BY n_sessions DESC, path ASC) AS BIGINT) AS rank
        |FROM n
        |QUALIFY row_number() OVER (ORDER BY n_sessions DESC, path ASC) <= 10""".stripMargin,

    // q76's HUGEINT cross-multiplied z-inequality over the per-day
    // count aggregate (z = 2).
    "q116_daily_spikes" ->
      """WITH d AS (SELECT event_type,
        |   CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
        |   CAST(count(*) AS BIGINT) AS n_day
        | FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
        |  CAST(sum(CAST(n_day AS HUGEINT)) AS HUGEINT) AS s,
        |  CAST(sum(CAST(n_day AS HUGEINT) * n_day) AS HUGEINT) AS q
        | FROM d GROUP BY 1)
        |SELECT d.event_type, d.day, d.n_day,
        | CAST(m.n AS BIGINT) AS n_group,
        | ((m.n * d.n_day - m.s) * (m.n * d.n_day - m.s)
        |   > 4 * (m.n * m.q - m.s * m.s)) AS is_outlier
        |FROM d JOIN m USING (event_type)""".stripMargin,

    // first/last per user vs the corpus max, exact integer-us day math.
    "q117_user_lifecycle" ->
      """WITH s AS (SELECT user_id, min(epoch_us(ts)) AS first_us,
        |   max(epoch_us(ts)) AS last_us FROM events GROUP BY 1),
        |mx AS (SELECT max(last_us) AS asof FROM s)
        |SELECT user_id,
        | CAST(floor((mx.asof - first_us) / 86400000000) AS BIGINT) AS days_known,
        | CAST(floor((mx.asof - last_us) / 86400000000) AS BIGINT) AS days_silent,
        | CASE WHEN floor((mx.asof - first_us) / 86400000000) < 29 THEN 'new'
        |   WHEN floor((mx.asof - last_us) / 86400000000) >= 1 THEN 'churned'
        |   ELSE 'active' END AS status
        |FROM s CROSS JOIN mx""".stripMargin,

    // q64's CTE chain supplies the survivor set; q106's propagation
    // machinery runs WITHIN it (labeled third capped per cell, probes
    // over the unlabeled two-thirds, vote argmax with low-label ties);
    // the summary carries count + id-sum so any membership or vote
    // flip moves the hash.
    "q118_embedding_e2e" ->
      s"""WITH ${OSql.semDedupCtes},
        |surv AS (SELECT vec_id FROM p
        |   WHERE nsq = 0 OR (is_rep AND NOT killed)
        |      OR (NOT is_rep AND cos_rep < 0.35)
        |  UNION ALL SELECT vec_id FROM cap),
        |sb AS (SELECT e.vec_id, e.embedding, e.label, ${(0 until 8).map(i =>
            s"(CASE WHEN e.embedding[${i + 1}] >= 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")} AS sbkt
        |  FROM embeddings e JOIN surv USING (vec_id)),
        |lab AS (SELECT * FROM sb WHERE vec_id % 3 = 0),
        |qq AS (SELECT vec_id AS qid, embedding AS qv,
        |   unnest([sbkt${(0 until 8).map(i => s", xor(sbkt, ${1L << i})").mkString}]) AS sbkt
        | FROM sb WHERE vec_id % 3 <> 0),
        |nn AS (SELECT qq.qid, e.vec_id AS id, e.label,
        |  ${OSql.cosSql("e.embedding", "qq.qv")} AS cos
        | FROM lab e JOIN qq ON e.sbkt = qq.sbkt
        | QUALIFY row_number() OVER (PARTITION BY qq.qid
        |   ORDER BY cos DESC, id ASC) <= 5),
        |v AS (SELECT qid, label, count(*) AS votes FROM nn GROUP BY 1, 2),
        |pr AS (SELECT qid AS vec_id, label FROM (
        |  SELECT qid, label, row_number() OVER (PARTITION BY qid
        |    ORDER BY votes DESC, label ASC) AS rn FROM v) WHERE rn = 1),
        |fin AS (SELECT vec_id, label FROM sb WHERE vec_id % 3 = 0
        |  UNION ALL SELECT vec_id, label FROM pr)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_members,
        | CAST(sum(vec_id) AS BIGINT) AS sum_ids
        |FROM fin GROUP BY 1""".stripMargin,

    // q72's chained-gap burst construction keyed on the user; each
    // burst keeps its (ts, event_id)-first row.
    "q119_repeat_suppression" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us
        |  FROM events),
        |g AS (SELECT *, CASE WHEN ts_us - lag(ts_us) OVER (
        |    PARTITION BY user_id ORDER BY ts_us, event_id)
        |    <= 3600000000 THEN 0 ELSE 1 END AS nb FROM e),
        |b AS (SELECT *, SUM(nb) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS burst
        |  FROM g)
        |SELECT event_id, user_id, ts_us FROM (
        | SELECT *, row_number() OVER (PARTITION BY user_id, burst
        |   ORDER BY ts_us, event_id) AS rn FROM b) WHERE rn = 1""".stripMargin,

    // Greedy prefix: running cost sum in (score desc, id) order, kept
    // while <= budget (monotone with positive costs).
    "q120_budget_fill" ->
      """SELECT doc_id, source, n_chars, CAST(spent AS BIGINT) AS spent FROM (
        | SELECT doc_id, source, n_chars,
        |   sum(n_chars) OVER (PARTITION BY source
        |     ORDER BY n_chars DESC, doc_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS spent
        | FROM documents WHERE n_chars > 0)
        |WHERE spent <= 5000""".stripMargin,

    // Orphans counted over distinct-FK semantics (NOT IN the parent
    // key set); exact basis points by integer floor division.
    "q121_fk_audit" ->
      """WITH bo AS (SELECT CASE WHEN o_orderkey % 13 = 0
        |    THEN -o_custkey ELSE o_custkey END AS fk FROM orders),
        |a1 AS (SELECT 'orders->customer' AS relation,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN fk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_fk,
        |  CAST(sum(CASE WHEN fk IS NOT NULL AND fk NOT IN
        |    (SELECT c_custkey FROM customer) THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
        | FROM bo),
        |a2 AS (SELECT 'lineitem->orders' AS relation,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_fk,
        |  CAST(sum(CASE WHEN l_orderkey IS NOT NULL AND l_orderkey NOT IN
        |    (SELECT o_orderkey FROM orders) THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
        | FROM lineitem)
        |SELECT relation, n_rows, n_null_fk, n_orphans,
        | CAST((n_orphans * 10000) // greatest(n_rows - n_null_fk, 1) AS BIGINT) AS orphan_bp,
        | n_orphans = 0 AS passed
        |FROM (SELECT * FROM a1 UNION ALL SELECT * FROM a2)""".stripMargin,

    // The vocabTopK tie convention: (n desc, md5-hash of the type asc).
    "q122_daily_trending" ->
      """WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day, event_type,
        |   CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2)
        |SELECT day, event_type, n, rank FROM (
        | SELECT day, event_type, n, row_number() OVER (PARTITION BY day
        |   ORDER BY n DESC,
        |     CAST(('0x'||substr(md5(event_type),1,15)) AS BIGINT) ASC) AS rank
        | FROM d) WHERE rank <= 3""".stripMargin,

    // The gid bitmask is rebuilt from per-column GROUPING bits on both
    // engines (first dim = most significant), so neither engine's
    // native grouping_id bit order is trusted.
    "q123_cube_summary" ->
      """SELECT coalesce(source, '<all>') AS source,
        |  coalesce(lang, '<all>') AS lang,
        |  CAST(GROUPING(source) * 2 + GROUPING(lang) AS BIGINT) AS gid,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(n_chars) AS BIGINT) AS total_size
        |FROM documents GROUP BY CUBE (source, lang)""".stripMargin,

    // The raw overlap inequality the engine computes bucketed with the
    // first-shared-cell exactly-once trick; windows derive from the
    // observed days so the fixture scales with sf.
    "q124_interval_overlap" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us,
        |   epoch_us(ts) // 86400000000 AS day FROM events),
        |s AS (SELECT user_id, day, min(ts_us) AS s_lo, max(ts_us) AS s_hi
        | FROM e GROUP BY 1, 2),
        |w AS (SELECT day * 4 + k AS window_id,
        |   day * 86400000000 + k * 21600000000 AS w_lo,
        |   day * 86400000000 + k * 21600000000 + 7199999999 AS w_hi
        | FROM (SELECT DISTINCT day FROM e), generate_series(0, 3) t(k))
        |SELECT window_id, w_lo, CAST(count(*) AS BIGINT) AS n_spans,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM s JOIN w ON s_lo <= w_hi AND w_lo <= s_hi
        |GROUP BY 1, 2""".stripMargin,

    // The explode + per-(doc, token) aggregate the engine's single-pass
    // codegen scan replaces; per-type terms rounded to micro-nat longs
    // BEFORE the sum (order-free — the house entropy trick, q97).
    // string_split(text, ' ') == the expression's split: empty tokens
    // kept, '' is one empty token.
    "q125_token_entropy" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents WHERE text IS NOT NULL),
        |c AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
        | FROM t GROUP BY 1, 2),
        |n AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY 1),
        |f AS (SELECT c.doc_id, n.n AS n_tokens,
        |  CAST(count(*) AS BIGINT) AS n_types,
        |  CAST(sum(CAST(round(
        |     -(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
        |     * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
        |     * 1000000.0) AS BIGINT)) AS BIGINT) AS entropy_micro
        | FROM c JOIN n ON c.doc_id = n.doc_id GROUP BY 1, 2)
        |SELECT doc_id, n_tokens, n_types, entropy_micro,
        |  round(CAST(entropy_micro AS DOUBLE) / 1000000.0, 6) AS entropy
        |FROM f""".stripMargin,

    // q72's sessionize CTE, then distinct (session, type), the
    // session-keyed pair self-join (type_a < type_b, binary order),
    // per-type session counts, and lift against independence.
    "q126_covisitation" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |   epoch_us(ts) AS ts_us FROM events),
        |g AS (SELECT *, CASE WHEN ts_us - lag(ts_us) OVER (
        |    PARTITION BY user_id ORDER BY ts_us, event_id)
        |    > 28800000000 THEN 1
        |  WHEN lag(ts_us) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id) IS NULL THEN 1
        |  ELSE 0 END AS nw FROM e),
        |s AS (SELECT *, CAST(sum(nw) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS session_id FROM g),
        |st AS (SELECT DISTINCT user_id, session_id, event_type FROM s),
        |pt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
        | FROM st GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_sessions
        | FROM (SELECT DISTINCT user_id, session_id FROM st)),
        |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |   CAST(count(*) AS BIGINT) AS n_ab
        | FROM st a JOIN st b ON a.user_id = b.user_id
        |   AND a.session_id = b.session_id
        |   AND a.event_type < b.event_type
        | GROUP BY 1, 2)
        |SELECT type_a, type_b, pa.n AS n_a, pb.n AS n_b, n_ab, n_sessions,
        |  round(CAST(n_ab AS DOUBLE) * CAST(n_sessions AS DOUBLE)
        |    / (CAST(pa.n AS DOUBLE) * CAST(pb.n AS DOUBLE)), 6) AS lift
        |FROM p
        |JOIN pt pa ON p.type_a = pa.event_type
        |JOIN pt pb ON p.type_b = pb.event_type, tot""".stripMargin,

    // The lower-median (disc) convention of q107 applied twice — value
    // histogram then deviation histogram — and the outlier decided by
    // the integer cross-multiplication |v−med|·kDen > mad·kNum.
    "q127_median_mad" ->
      """WITH h AS (SELECT source, n_chars AS v, count(*) AS c
        |  FROM documents GROUP BY 1, 2),
        |cum AS (SELECT source, v,
        |   sum(c) OVER (PARTITION BY source ORDER BY v
        |     ROWS UNBOUNDED PRECEDING) AS cum,
        |   sum(c) OVER (PARTITION BY source) AS n FROM h),
        |med AS (SELECT source, CAST(min(v) AS BIGINT) AS median
        | FROM cum WHERE cum * 2 >= n GROUP BY 1),
        |dh AS (SELECT h.source, abs(v - median) AS dev, sum(c) AS c
        | FROM h JOIN med ON h.source = med.source GROUP BY 1, 2),
        |dcum AS (SELECT source, dev,
        |   sum(c) OVER (PARTITION BY source ORDER BY dev
        |     ROWS UNBOUNDED PRECEDING) AS cum,
        |   sum(c) OVER (PARTITION BY source) AS n FROM dh),
        |mad AS (SELECT source, CAST(min(dev) AS BIGINT) AS mad
        | FROM dcum WHERE cum * 2 >= n GROUP BY 1)
        |SELECT doc_id, d.source, n_chars, median, mad,
        |  abs(n_chars - median) * 1 > mad * 3 AS is_outlier
        |FROM documents d
        |JOIN med ON d.source = med.source
        |JOIN mad ON d.source = mad.source""".stripMargin,

    // q23's shingle-hash space grouped by source instead of doc: the
    // per-doc distinct is subsumed by the per-source DISTINCT, so the
    // CTE skips list_distinct; same md5-60-bit hash as the engine.
    "q128_source_overlap" ->
      """WITH w AS (SELECT source, string_split(text, ' ') AS ws
        |  FROM documents),
        |s0 AS (SELECT source, CASE WHEN len(ws) >= 3
        |   THEN list_transform(generate_series(1, len(ws) - 2),
        |     i -> array_to_string(ws[i:i+2], ' '))
        |   ELSE [] END AS shs FROM w),
        |sh AS (SELECT DISTINCT source,
        |   CAST(('0x' || substr(md5(sh), 1, 15)) AS BIGINT) AS h
        | FROM (SELECT source, unnest(shs) AS sh FROM s0)),
        |ns AS (SELECT source, CAST(count(*) AS BIGINT) AS n
        | FROM sh GROUP BY 1),
        |p AS (SELECT a.source AS source_a, b.source AS source_b,
        |   CAST(count(*) AS BIGINT) AS n_common
        | FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
        | GROUP BY 1, 2)
        |SELECT source_a, source_b, na.n AS n_a, nb.n AS n_b, n_common,
        |  round(CAST(n_common AS DOUBLE)
        |    / CAST(na.n + nb.n - n_common AS DOUBLE), 6) AS jaccard
        |FROM p
        |JOIN ns na ON source_a = na.source
        |JOIN ns nb ON source_b = nb.source""".stripMargin,

    // Exact trailing-window distinct: presence replicated to the 7
    // report days it supports, re-distincted, restricted to observed
    // days — the engine's shape stated declaratively.
    "q129_rolling_active" ->
      """WITH e AS (SELECT user_id,
        |   epoch_us(ts) // 86400000000 AS day FROM events),
        |p AS (SELECT DISTINCT user_id, day FROM e),
        |d AS (SELECT DISTINCT day FROM e),
        |x AS (SELECT DISTINCT user_id, day + k AS day2
        | FROM p, generate_series(0, 6) t(k))
        |SELECT day2 AS day, CAST(count(*) AS BIGINT) AS n_active
        |FROM x JOIN d ON x.day2 = d.day GROUP BY 1""".stripMargin,

    // Largest-remainder apportionment on the groups table, then q71's
    // ascending-52-bit-hash rank cut at the per-source quota.
    "q130_stratified_sample" ->
      """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1),
        |t AS (SELECT source, c,
        |   CAST((60 * c) // sum(c) OVER () AS BIGINT) AS base,
        |   CAST((60 * c) % sum(c) OVER () AS BIGINT) AS rem FROM c),
        |a AS (SELECT source, c, LEAST(base + CASE WHEN
        |    row_number() OVER (ORDER BY rem DESC, source ASC)
        |      <= 60 - sum(base) OVER () THEN 1 ELSE 0 END, c) AS quota
        | FROM t),
        |h AS (SELECT doc_id, source,
        |   CAST(('0x' || substr(md5('strat1' || CAST(doc_id AS VARCHAR)),
        |     1, 15)) AS BIGINT) % 4503599627370496 AS r FROM documents),
        |rk AS (SELECT doc_id, source, row_number() OVER (
        |   PARTITION BY source ORDER BY r ASC, doc_id ASC) AS rk FROM h)
        |SELECT rk.doc_id, rk.source
        |FROM rk JOIN a ON rk.source = a.source WHERE rk <= quota""".stripMargin,

    // One histogram, one cumulative window, four disc cuts under the
    // q107 integer rule (cum·10⁴ ≥ n·bp).
    "q131_percentile_digest" ->
      """WITH h AS (SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2),
        |cum AS (SELECT source, v,
        |   CAST(sum(c) OVER (PARTITION BY source ORDER BY v
        |     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |   CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n FROM h)
        |SELECT source, CAST(min(n) AS BIGINT) AS n_rows,
        |  CAST(min(CASE WHEN cum * 10000 >= n * 2500 THEN v END) AS BIGINT) AS p2500,
        |  CAST(min(CASE WHEN cum * 10000 >= n * 5000 THEN v END) AS BIGINT) AS p5000,
        |  CAST(min(CASE WHEN cum * 10000 >= n * 7500 THEN v END) AS BIGINT) AS p7500,
        |  CAST(min(CASE WHEN cum * 10000 >= n * 9500 THEN v END) AS BIGINT) AS p9500
        |FROM cum GROUP BY 1""".stripMargin,

    // q72's sessionize CTE, per-session collapse, then the day rollup:
    // exact integer counts/dwell, basis-point bounce via floor
    // division, mean dwell the one derived 6-dp float.
    "q132_session_stats" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us
        |  FROM events),
        |g AS (SELECT *, CASE WHEN ts_us - lag(ts_us) OVER (
        |    PARTITION BY user_id ORDER BY ts_us, event_id)
        |    > 28800000000 THEN 1
        |  WHEN lag(ts_us) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id) IS NULL THEN 1
        |  ELSE 0 END AS nw FROM e),
        |s AS (SELECT *, CAST(sum(nw) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS session_id FROM g),
        |ps AS (SELECT user_id, session_id, min(ts_us) AS s_us,
        |   max(ts_us) AS e_us, CAST(count(*) AS BIGINT) AS ne
        | FROM s GROUP BY 1, 2),
        |d AS (SELECT s_us // 86400000000 AS day, e_us - s_us AS dur, ne
        | FROM ps)
        |SELECT day, CAST(count(*) AS BIGINT) AS n_sessions,
        |  CAST(sum(CASE WHEN ne = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounce,
        |  CAST((sum(CASE WHEN ne = 1 THEN 1 ELSE 0 END) * 10000)
        |    // count(*) AS BIGINT) AS bounce_bp,
        |  CAST(sum(ne) AS BIGINT) AS n_events,
        |  CAST(sum(dur) AS BIGINT) AS dur_sum_us,
        |  round(CAST(sum(dur) AS DOUBLE) / 1000000.0 / count(*), 6)
        |    AS mean_dur_s
        |FROM d GROUP BY 1""".stripMargin,

    // q113's kNN edge CTE, canonicalized undirected, then the textbook
    // a<b<c three-way self-join — the oracle needs no orientation trick
    // (the engine's degree orientation changes the JOIN SHAPE, not the
    // triangle set).
    "q133_knn_triangles" ->
      s"""WITH b0 AS (SELECT *, ${OSql.bktSql(AnnBits)} AS bkt
        |  FROM embeddings),
        |b AS (SELECT * FROM b0),
        |q AS (SELECT vec_id AS qid, embedding AS qv,
        |  unnest(${OSql.probeSql(AnnBits, AnnHamming)}) AS bkt FROM b0),
        |nn AS (SELECT q.qid, e.vec_id AS id,
        |  ${OSql.cosSql("e.embedding", "q.qv")} AS cos
        | FROM b e JOIN q ON e.bkt = q.bkt AND e.vec_id <> q.qid
        | QUALIFY row_number() OVER (PARTITION BY q.qid
        |   ORDER BY cos DESC, id ASC) <= 3),
        |u AS (SELECT DISTINCT LEAST(qid, id) AS a, GREATEST(qid, id) AS b
        | FROM nn),
        |t AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        | FROM u e1 JOIN u e2 ON e2.a = e1.b
        |   JOIN u e3 ON e3.a = e1.a AND e3.b = e2.b),
        |c AS (SELECT v, CAST(count(*) AS BIGINT) AS n FROM (
        |   SELECT unnest([x, y, z]) AS v FROM t) GROUP BY 1)
        |SELECT emb.vec_id, coalesce(c.n, 0) AS n_triangles
        |FROM embeddings emb LEFT JOIN c ON emb.vec_id = c.v""".stripMargin,

    // q30's langid CASE, crossed with the labeled lang; share in exact
    // basis points of the truth row.
    "q134_lang_confusion" ->
      s"""WITH p AS (SELECT lang, ${OSql.langCase} AS lang_pred
        |  FROM documents),
        |c AS (SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n
        | FROM p GROUP BY 1, 2)
        |SELECT lang, lang_pred, n,
        |  CAST((n * 10000) // sum(n) OVER (PARTITION BY lang) AS BIGINT)
        |    AS share_bp
        |FROM c""".stripMargin,

    // q44's split assignment rolled up by CUBE (split, source) under
    // the q123 gid/sentinel conventions.
    "q135_split_audit" ->
      """WITH sp AS (SELECT source, n_chars,
        |  CASE WHEN h < 8000 THEN 'train' WHEN h < 9000 THEN 'val'
        |       ELSE 'test' END AS split
        | FROM (SELECT source, n_chars,
        |   CAST(('0x'||substr(md5('s1'||CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT)
        |     % 10000 AS h
        |  FROM documents))
        |SELECT coalesce(split, '<all>') AS split,
        |  coalesce(source, '<all>') AS source,
        |  CAST(GROUPING(split) * 2 + GROUPING(source) AS BIGINT) AS gid,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(n_chars) AS BIGINT) AS total_size
        |FROM sp GROUP BY CUBE (split, source)""".stripMargin,

    // The probe × corpus product q136's filter-and-verify plan avoids:
    // exact levenshtein over the 40-char title prefix, probe doc_id < 50.
    "q136_edit_join" ->
      """WITH s AS (SELECT doc_id, substr(text, 1, 40) AS p FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(levenshtein(a.p, b.p) AS BIGINT) AS dist
        |FROM (SELECT * FROM s WHERE doc_id < 50) a, s b
        |WHERE levenshtein(a.p, b.p) <= 6""".stripMargin,

    // The brute within-language form over the FULL text — the length
    // prefilter is implied by ed <= 6 (each edit moves length by at
    // most 1), so adding it cannot change rows, only oracle cost; the
    // engine's length banding prunes to the same contract.
    "q139_edit_blocked" ->
      """WITH s AS (SELECT doc_id, lang, text AS p FROM documents)
        |SELECT a.lang, a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(levenshtein(a.p, b.p) AS BIGINT) AS dist
        |FROM s a JOIN s b
        |  ON a.doc_id < b.doc_id AND a.lang = b.lang
        |  AND abs(len(a.p) - len(b.p)) <= 6
        |WHERE levenshtein(a.p, b.p) <= 6""".stripMargin,

    // q26's brute top-k and q27's probed-LSH top-k (same cos/tiebreak
    // conventions, 25 queries, k=10), intersected per query.
    "q137_ann_recall" -> Sql_q137,

    // Exact containment over the same md5-60-bit 3-shingle hashes the
    // engine shuffles: the unrestricted hash-table self-join q138's
    // signature plan avoids.
    "q138_containment" ->
      s"""${OSql.shingleCte},
        |t AS (SELECT doc_id, nsh,
        |    CAST(('0x'||substr(md5(sh),1,15)) AS BIGINT) AS tok FROM sh),
        |sz AS (SELECT DISTINCT doc_id, CAST(nsh AS BIGINT) AS n FROM t),
        |i AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(count(*) AS BIGINT) AS inter
        |  FROM t a JOIN t b ON a.tok = b.tok AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2)
        |SELECT i.id_a, i.id_b, i.inter, sz.n AS size_a,
        |  CAST((i.inter * 10000) // sz.n AS BIGINT) AS cont_bp
        |FROM i JOIN sz ON i.id_a = sz.doc_id
        |WHERE i.inter * 10000 >= 8000 * sz.n""".stripMargin,

    // The engine's peel, unrolled: 6 rounds of "drop degree<30 nodes,
    // keep edges between survivors" over the symmetric part–supplier
    // adjacency — past the fixpoint, rounds are idempotent.
    "q140_kcore" -> {
      val rounds = (1 to 6).map(i =>
        s"""k$i AS (SELECT v FROM (
           |   SELECT v, count(*) AS d FROM c${i - 1} GROUP BY 1) WHERE d >= 30),
           |c$i AS (SELECT c.v, c.w FROM c${i - 1} c
           |  JOIN k$i x ON c.v = x.v JOIN k$i y ON c.w = y.v)""".stripMargin)
        .mkString(",\n")
      s"""WITH e AS (SELECT DISTINCT l_partkey AS p, l_suppkey + 10000000 AS s
        |  FROM lineitem),
        |c0 AS (SELECT p AS v, s AS w FROM e UNION ALL SELECT s, p FROM e),
        |$rounds
        |SELECT v AS node_id, CAST(count(*) AS BIGINT) AS core_deg
        |FROM c6 GROUP BY 1""".stripMargin
    },

    // Positional phrase matching over the same whitespace tokens, via
    // list comprehension — overlapping occurrences all count.
    "q141_phrase_search" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |a AS (SELECT 'table hash' AS phrase, doc_id,
        |  CAST(len([i for i in range(1, len(ws))
        |    if ws[i] = 'table' AND ws[i+1] = 'hash']) AS BIGINT) AS n_occ
        | FROM w),
        |b AS (SELECT 'slow hash batch' AS phrase, doc_id,
        |  CAST(len([i for i in range(1, len(ws) - 1)
        |    if ws[i] = 'slow' AND ws[i+1] = 'hash' AND ws[i+2] = 'batch'])
        |   AS BIGINT) AS n_occ
        | FROM w)
        |SELECT * FROM (SELECT * FROM a UNION ALL SELECT * FROM b)
        |WHERE n_occ >= 1""".stripMargin,

    // q24's candidate build full-outer-joined against q23's exact truth,
    // reduced to one row of counts + basis-point precision/recall.
    "q142_lsh_eval" -> Sql_q142,

    // q23's exact pair build, each side labeled with its language,
    // rolled up to the symmetric (lang, lang) matrix.
    "q143_dup_lang_matrix" ->
      s"""${OSql.shingleCte},
        |shh AS (SELECT doc_id, nsh,
        |  CAST(('0x'||substr(md5(sh),1,15)) AS BIGINT) AS sh FROM sh),
        |capped AS (SELECT * FROM (SELECT *, count(*) OVER (PARTITION BY sh)
        |    AS df FROM shh) WHERE df <= 100),
        |p AS (SELECT x.doc_id AS a, y.doc_id AS b
        |  FROM capped x JOIN capped y ON x.sh = y.sh AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2, x.nsh, y.nsh
        |  HAVING round(count(*)::DOUBLE / (x.nsh + y.nsh - count(*)), 6) >= 0.5)
        |SELECT LEAST(da.lang, db.lang) AS lang_a,
        |  GREATEST(da.lang, db.lang) AS lang_b,
        |  CAST(count(*) AS BIGINT) AS n_pairs
        |FROM p JOIN documents da ON p.a = da.doc_id
        |  JOIN documents db ON p.b = db.doc_id
        |GROUP BY 1, 2""".stripMargin,

    // The engine's normalization chain, mirrored step for step
    // (Cc/Cf strip -> NFC -> space collapse -> trim), fingerprinted.
    "q144_normalize_text" ->
      """WITH n AS (SELECT doc_id, text,
        |  trim(regexp_replace(nfc_normalize(
        |    regexp_replace(text, '[\p{Cc}\p{Cf}]', '', 'g')),
        |    ' +', ' ', 'g')) AS nt
        |  FROM documents)
        |SELECT doc_id, md5(nt) AS norm_md5,
        |  CAST(nt <> text AS BIGINT) AS changed
        |FROM n""".stripMargin,

    // Mann–Whitney with midranks carried as the integer 2·avgrank =
    // 2·rank + |tie group| − 1; AUC in exact basis points.
    "q145_score_auc" -> Sql_q145,

    // The engine's Welch z² operation sequence, stated identically:
    // integer moments, explicit multiply for the square, round 6,
    // significance on round(z2·10⁶) >= 19600²/100.
    "q146_ab_test" ->
      """WITH f AS (SELECT l_linestatus, l_returnflag AS arm,
        |    CAST(l_quantity AS BIGINT) AS v FROM lineitem
        |  WHERE l_returnflag IN ('R', 'A')),
        |a AS (SELECT l_linestatus,
        |    CAST(sum(CASE WHEN arm = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(sum(CASE WHEN arm = 'R' THEN v ELSE 0 END) AS BIGINT) AS sum_a,
        |    CAST(sum(CASE WHEN arm = 'A' THEN v ELSE 0 END) AS BIGINT) AS sum_b,
        |    CAST(sum(CASE WHEN arm = 'R' THEN v * v ELSE 0 END) AS BIGINT) AS q_a,
        |    CAST(sum(CASE WHEN arm = 'A' THEN v * v ELSE 0 END) AS BIGINT) AS q_b
        |  FROM f GROUP BY 1
        |  HAVING n_a >= 2 AND n_b >= 2
        |    AND NOT (CAST(q_a AS HUGEINT) * n_a = CAST(sum_a AS HUGEINT) * sum_a
        |         AND CAST(q_b AS HUGEINT) * n_b = CAST(sum_b AS HUGEINT) * sum_b)),
        |z AS (SELECT *, round(
        |    (CAST(sum_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        |      - CAST(sum_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        |    * (CAST(sum_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        |      - CAST(sum_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        |    / ((CAST(q_a AS DOUBLE) - CAST(sum_a AS DOUBLE)
        |         * (CAST(sum_a AS DOUBLE) / CAST(n_a AS DOUBLE)))
        |        / CAST(n_a - 1 AS DOUBLE) / CAST(n_a AS DOUBLE)
        |     + (CAST(q_b AS DOUBLE) - CAST(sum_b AS DOUBLE)
        |         * (CAST(sum_b AS DOUBLE) / CAST(n_b AS DOUBLE)))
        |        / CAST(n_b - 1 AS DOUBLE) / CAST(n_b AS DOUBLE)), 6) AS z2
        |  FROM a)
        |SELECT l_linestatus, n_a, n_b, sum_a, sum_b, z2,
        |  CAST(CAST(round(z2 * 1000000) AS BIGINT) >= 3841600 AS BIGINT)
        |    AS significant
        |FROM z""".stripMargin,

    // Same md5 fold hash as q44's split; the complete (lang × fold)
    // grid so categories missing a fold still get their full-mean row.
    "q147_target_encoding" ->
      """WITH f AS (SELECT lang,
        |    CAST(('0x'||substr(md5('te1'||CAST(doc_id AS VARCHAR)),1,15))
        |      AS BIGINT) % 5 AS fold, n_chars FROM documents),
        |pf AS (SELECT lang, fold, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(n_chars) AS BIGINT) AS s FROM f GROUP BY 1, 2),
        |t AS (SELECT lang, CAST(sum(n) AS BIGINT) AS nt,
        |    CAST(sum(s) AS BIGINT) AS st FROM pf GROUP BY 1),
        |g AS (SELECT t.lang, t.nt, t.st, fo.fold FROM t
        |  CROSS JOIN (SELECT unnest(range(5)) AS fold) fo)
        |SELECT g.lang, CAST(g.fold AS BIGINT) AS fold,
        |  CAST(g.nt - coalesce(pf.n, 0) AS BIGINT) AS n_oof,
        |  CAST(g.st - coalesce(pf.s, 0) AS BIGINT) AS sum_oof,
        |  CASE WHEN g.nt - coalesce(pf.n, 0) > 0
        |    THEN round(CAST(g.st - coalesce(pf.s, 0) AS DOUBLE)
        |      / CAST(g.nt - coalesce(pf.n, 0) AS DOUBLE), 6)
        |    ELSE NULL END AS enc
        |FROM g LEFT JOIN pf ON g.lang = pf.lang AND g.fold = pf.fold""".stripMargin,

    // The engine's cross-multiplied pooled z² inequality in HUGEINT —
    // int128 covers the same range as the engine's DECIMAL(38,0),
    // including the same L ≥ 10³⁰ magnitude guard (DuckDB ERRORS on
    // int128 overflow, so the guard is what keeps L·10⁸ from being
    // formed exactly when it wouldn't fit).
    "q148_conversion_ab" ->
      """WITH f AS (SELECT l_linestatus, l_returnflag AS arm,
        |    CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END AS conv
        |  FROM lineitem WHERE l_returnflag IN ('R', 'A')),
        |a AS (SELECT l_linestatus,
        |    CAST(sum(CASE WHEN arm = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN arm = 'R' THEN conv ELSE 0 END) AS BIGINT) AS k_a,
        |    CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(sum(CASE WHEN arm = 'A' THEN conv ELSE 0 END) AS BIGINT) AS k_b
        |  FROM f GROUP BY 1 HAVING n_a >= 1 AND n_b >= 1),
        |l AS (SELECT *,
        |    (CAST(k_a AS HUGEINT) * n_b - CAST(k_b AS HUGEINT) * n_a)
        |    * (CAST(k_a AS HUGEINT) * n_b - CAST(k_b AS HUGEINT) * n_a)
        |    * (n_a + n_b) AS lhs
        |  FROM a)
        |SELECT l_linestatus, n_a, k_a, n_b, k_b,
        |  CAST(CASE WHEN k_a + k_b > 0 AND k_a + k_b < n_a + n_b THEN
        |    CASE WHEN lhs >= CAST('1000000000000000000000000000000' AS HUGEINT)
        |      THEN true
        |    ELSE lhs * 100000000
        |      >= CAST(19600 AS HUGEINT) * 19600 * (k_a + k_b)
        |         * (n_a + n_b - k_a - k_b) * n_a * n_b
        |    END
        |  ELSE false END AS BIGINT) AS significant
        |FROM l""".stripMargin,

    // The three eval oracles scalarized — each sub-SELECT is the exact
    // body its own green row runs.
    "q149_eval_card" ->
      s"""SELECT 'lsh_precision_bp' AS metric,
        |  precision_bp AS value FROM ($Sql_q142)
        |UNION ALL SELECT 'lsh_recall_bp', recall_bp FROM ($Sql_q142)
        |UNION ALL SELECT 'lsh_candidates', n_candidates FROM ($Sql_q142)
        |UNION ALL SELECT 'auc_bp_min', CAST(min(auc_bp) AS BIGINT)
        |FROM ($Sql_q145)
        |UNION ALL SELECT 'auc_bp_max', CAST(max(auc_bp) AS BIGINT)
        |FROM ($Sql_q145)
        |UNION ALL SELECT 'ivf_recall_bp_mean',
        |  CAST((count(*) * 10000) // 25 AS BIGINT)
        |FROM ($Sql_q156) a JOIN (
        |  WITH vq AS (SELECT vec_id AS qid, embedding AS qv
        |      FROM embeddings WHERE vec_id < 5),
        |  vsc AS (SELECT vq.qid, e.vec_id AS id,
        |    ${OSql.cosSql("e.embedding", "vq.qv")} AS cos
        |   FROM embeddings e, vq)
        |  SELECT qid, id FROM vsc QUALIFY row_number()
        |    OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) <= 5) t
        |ON a.qid = t.qid AND a.id = t.id""".stripMargin,

    // Identical truth to q145 — the oracle does not care which plan
    // computed the midranks.
    "q150_auc_hist" -> Sql_q145,

    // q81's quantile_disc buckets over the q145 join, rolled up to the
    // per-(lang, bucket) exact positive rate.
    "q151_calibration" ->
      """WITH j AS (SELECT d.lang, d.n_chars,
        |    CASE WHEN e.label < 5 THEN 1 ELSE 0 END AS y
        |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
        |b AS (SELECT lang,
        |  quantile_disc(n_chars, 0.25) AS q1,
        |  quantile_disc(n_chars, 0.5) AS q2,
        |  quantile_disc(n_chars, 0.75) AS q3
        | FROM j GROUP BY 1),
        |r AS (SELECT j.lang, j.n_chars, j.y,
        |  CAST(1 + (CASE WHEN j.n_chars > b.q1 THEN 1 ELSE 0 END)
        |    + (CASE WHEN j.n_chars > b.q2 THEN 1 ELSE 0 END)
        |    + (CASE WHEN j.n_chars > b.q3 THEN 1 ELSE 0 END) AS BIGINT) AS bucket
        |  FROM j JOIN b USING (lang))
        |SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(y) AS BIGINT) AS n_pos,
        |  CAST(min(n_chars) AS BIGINT) AS score_lo,
        |  CAST(max(n_chars) AS BIGINT) AS score_hi,
        |  CAST((sum(y) * 10000) // count(*) AS BIGINT) AS pos_rate_bp
        |FROM r GROUP BY 1, 2""".stripMargin,

    "q152_count_encoding" ->
      """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)
        |SELECT c.source, c.n,
        |  CAST((c.n * 10000) // t.total AS BIGINT) AS freq_bp
        |FROM c, t""".stripMargin,

    // q73's funnel chain, step deltas unpivoted, q131's disc-percentile
    // convention per step.
    "q153_funnel_latency" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us
        |  FROM events),
        |s1 AS (SELECT user_id, min(ts_us) AS t1_us FROM e
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts_us) AS t2_us FROM e
        |  JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts_us > s1.t1_us GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts_us) AS t3_us FROM e
        |  JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts_us > s2.t2_us GROUP BY 1),
        |d AS (SELECT 'view>click' AS step, s2.t2_us - s1.t1_us AS v
        |    FROM s1 JOIN s2 USING (user_id)
        |  UNION ALL SELECT 'click>purchase', s3.t3_us - s2.t2_us
        |    FROM s2 JOIN s3 USING (user_id)),
        |h AS (SELECT step, v, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY 1, 2),
        |cum AS (SELECT step, v,
        |   CAST(sum(c) OVER (PARTITION BY step ORDER BY v
        |     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |   CAST(sum(c) OVER (PARTITION BY step) AS BIGINT) AS n FROM h)
        |SELECT step, CAST(min(n) AS BIGINT) AS n_rows,
        |  CAST(min(CASE WHEN cum * 10000 >= n * 5000 THEN v END) AS BIGINT) AS p5000,
        |  CAST(min(CASE WHEN cum * 10000 >= n * 9000 THEN v END) AS BIGINT) AS p9000
        |FROM cum GROUP BY 1""".stripMargin,

    // q47's truth rolled up twice: per-cluster sizes, then the
    // size histogram.
    "q154_dup_histogram" ->
      s"""SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
        |  CAST(sum(cluster_size) AS BIGINT) AS n_docs
        |FROM (SELECT CAST(count(*) AS BIGINT) AS cluster_size
        |  FROM ($Sql_q47) GROUP BY cluster)
        |GROUP BY 1""".stripMargin,

    // Two fit rounds unrolled (kmeansFitCtes mirrors the engine's
    // assignment/update/empty-cell rules exactly), then round 3's
    // assignment supplies the emitted stats — c_md5 over the component
    // sums moves if ANY round's assignment flips anywhere.
    "q155_kmeans_fit" ->
      s"""WITH ${kmeansFitCtes(3)},
        |karrb AS (SELECT cid, list(cd ORDER BY pos) AS csum
        |  FROM kcs3 GROUP BY 1),
        |kn AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_vecs
        |  FROM ka3 GROUP BY 1)
        |SELECT CAST(karrb.cid AS BIGINT) AS cluster, kn.n_vecs,
        |  md5(array_to_string(list_transform(csum,
        |    x -> CAST(x AS VARCHAR)), ',')) AS c_md5,
        |  CAST(list_sum(csum) AS BIGINT) AS c_sum
        |FROM karrb JOIN kn USING (cid)""".stripMargin,

    // q37's IVF probe against the TRAINED coarse quantizer: the same
    // fit unroll supplies c2, then assignment/probe/top-k as in q37
    // (shared with the q149 eval card's ivf_recall metric).
    "q156_ivf_fitted" -> Sql_q156,

    // The FULL recompute over the whole corpus — the incremental merge
    // must reproduce it exactly (q47's clustering body verbatim).
    "q157_cc_incremental" -> Sql_q47,

    // Hybrid fusion: q82's BM25 chain (top-20) ⊕ q26's brute cosine
    // (top-20), RRF with c=60 — per-term reciprocals rounded to 9 dp
    // and summed as DECIMAL so the fused score is addition-order-free.
    "q158_hybrid_rrf" ->
      s"""WITH ${OSql.bm25Ctes},
        |lexr AS (SELECT query_id, doc_id, rank FROM (
        |  SELECT query_id, doc_id, row_number() OVER (
        |    PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
        |  FROM sc) WHERE rank <= 20),
        |cq AS (SELECT vec_id AS query_id, embedding AS qv
        |  FROM embeddings WHERE vec_id < 5),
        |cs AS (SELECT cq.query_id, e.vec_id AS doc_id,
        |  ${OSql.cosSql("e.embedding", "cq.qv")} AS cos
        | FROM embeddings e CROSS JOIN cq),
        |vecr AS (SELECT query_id, doc_id, rank FROM (
        |  SELECT query_id, doc_id, row_number() OVER (
        |    PARTITION BY query_id ORDER BY cos DESC, doc_id ASC) AS rank
        |  FROM cs) WHERE rank <= 20),
        |u AS (SELECT * FROM lexr UNION ALL SELECT * FROM vecr),
        |f AS (SELECT query_id, doc_id,
        |   CAST(sum(CAST(round(1.0 / (60 + rank), 9) AS DECIMAL(19,9)))
        |     AS DOUBLE) AS rrf,
        |   CAST(count(*) AS BIGINT) AS n_lists,
        |   CAST(min(rank) AS BIGINT) AS best_rank
        | FROM u GROUP BY 1, 2)
        |SELECT query_id, doc_id, rrf, n_lists, best_rank, rank FROM (
        | SELECT *, row_number() OVER (
        |   PARTITION BY query_id ORDER BY rrf DESC, doc_id ASC) AS rank
        | FROM f) WHERE rank <= 10""".stripMargin,

    // All six MMR greedy steps unrolled (the q155 discipline): each
    // step's max-penalty aggregate and argmax replayed verbatim, the
    // 1−λ weight formed by the same 1.0 − 0.7 IEEE subtraction.
    "q159_mmr_diversify" -> mmrSql(k = 6, m = 20, lambda = 0.7),

    // q167 = the SAME unrolled MMR oracle: the local (mapGroups) path
    // must land on identical rows as the distributed q159 — driver-gate
    // pinned equivalence, not just a unit test.
    "q167_mmr_local" -> mmrSql(k = 6, m = 20, lambda = 0.7),

    // q170: the q164 span-cut CTE chain over the GATED corpus, its
    // reassembled survivors (>= 5 kept tokens) feeding the q91
    // near-dup/cap/split tail on dedup_text — stage oracles chained
    // verbatim, seeds re-keyed to 'cur2'.
    "q170_curation_span" ->
      """WITH RECURSIVE
        |w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |  FROM documents WHERE text IS NOT NULL
        |   AND n_chars >= 100 AND n_chars <= 5000),
        |g AS (SELECT doc_id, ws, i AS pos,
        |   array_to_string(ws[i:i+7], ' ') AS sh
        | FROM (SELECT * FROM w WHERE len(ws) >= 8) we,
        |   lateral unnest(generate_series(1, len(ws) - 7)) t(i)),
        |st AS (SELECT sh, min(doc_id * 1048576 + pos) AS own
        |  FROM g GROUP BY sh HAVING count(DISTINCT doc_id) >= 2),
        |d AS (SELECT g.doc_id, g.pos,
        |   (g.doc_id * 1048576 + g.pos = st.own) AS owned
        | FROM g JOIN st USING (sh)),
        |cv AS (SELECT doc_id, unnest(generate_series(pos, pos + 7)) AS t,
        |   owned FROM d),
        |ct AS (SELECT doc_id, t FROM cv GROUP BY doc_id, t
        |  HAVING NOT bool_or(owned)),
        |cc AS (SELECT doc_id, count(*) AS ncut FROM ct GROUP BY 1),
        |tok AS (SELECT w.doc_id, ti.i AS t, ws[ti.i] AS wd
        | FROM w JOIN cc USING (doc_id),
        |   lateral unnest(generate_series(1, len(ws))) ti(i)),
        |keep AS (SELECT tok.doc_id, tok.t, tok.wd FROM tok
        | LEFT JOIN ct ON tok.doc_id = ct.doc_id AND tok.t = ct.t
        | WHERE ct.t IS NULL),
        |rb AS (SELECT doc_id, string_agg(wd, ' ' ORDER BY t) AS rbt,
        |   count(*) AS nk FROM keep GROUP BY doc_id),
        |scut AS (SELECT w.doc_id,
        |  CASE WHEN cc.doc_id IS NULL THEN array_to_string(ws, ' ')
        |       ELSE coalesce(rb.rbt, '') END AS dedup_text,
        |  CAST(CASE WHEN cc.doc_id IS NULL THEN len(ws)
        |       ELSE coalesce(rb.nk, 0) END AS BIGINT) AS n_tokens_kept
        | FROM w LEFT JOIN cc USING (doc_id) LEFT JOIN rb USING (doc_id)),
        |surv AS (SELECT scut.doc_id, scut.dedup_text, scut.n_tokens_kept,
        |   d0.lang, d0.source
        |  FROM scut JOIN documents d0 USING (doc_id)
        |  WHERE scut.n_tokens_kept >= 5),
        |w2 AS (SELECT doc_id, string_split(dedup_text, ' ') AS ws FROM surv),
        |s2 AS (SELECT doc_id, CASE WHEN len(ws) >= 3 THEN
        |    list_distinct(list_transform(generate_series(1, len(ws)-2),
        |      i -> array_to_string(ws[i:i+2], ' '))) ELSE [] END AS shs
        |  FROM w2),
        |sh2 AS (SELECT doc_id, len(shs) AS nsh, unnest(shs) AS sh FROM s2),
        |shh2 AS (SELECT doc_id, nsh,
        |   CAST(('0x'||substr(md5(sh),1,15)) AS BIGINT) AS sh FROM sh2),
        |capped2 AS (SELECT * FROM (SELECT *, count(*) OVER (PARTITION BY
        |   sh) AS df FROM shh2) WHERE df <= 100),
        |pairs AS (SELECT x.doc_id AS a, y.doc_id AS b
        | FROM capped2 x JOIN capped2 y ON x.sh = y.sh AND x.doc_id < y.doc_id
        | GROUP BY 1, 2, x.nsh, y.nsh
        | HAVING round(count(*)::DOUBLE / (x.nsh + y.nsh - count(*)), 6) >= 0.5),
        |edges AS (SELECT a, b FROM pairs
        |  UNION ALL SELECT b AS a, a AS b FROM pairs),
        |reach(id, lab) AS (
        | SELECT doc_id, doc_id FROM surv
        | UNION
        | SELECT e.a, r.lab FROM edges e JOIN reach r ON r.id = e.b),
        |d2 AS (SELECT surv.* FROM surv JOIN (SELECT id AS doc_id
        |   FROM (SELECT id, min(lab) AS cluster FROM reach GROUP BY 1)
        |   WHERE cluster = id) k2 USING (doc_id)),
        |cap AS (SELECT doc_id, lang, source, n_tokens_kept FROM (
        |   SELECT d2.*,
        |     CAST(('0x'||substr(md5('cur2'||CAST(doc_id AS VARCHAR)),1,15))
        |       AS BIGINT) % 4503599627370496 AS r FROM d2)
        | QUALIFY row_number() OVER (PARTITION BY source
        |   ORDER BY r ASC, doc_id ASC) <= 40)
        |SELECT doc_id, lang, source, n_tokens_kept FROM cap
        |WHERE CAST(('0x'||substr(md5('cur2'||CAST(doc_id AS VARCHAR)),1,15))
        |   AS BIGINT) % 10000 < 8000""".stripMargin,

    // q169: the whole split history unrolled on top of q46's registered
    // fit skeleton (ivfKnnCtes: derived cells, sampled fit, full-corpus
    // assignment in vcell): occupancy GROUP BY, hot set with the
    // derived per-parent sub-cell count, seeds = each hot cell's subk
    // lowest member ids, then SplitIters grouped Lloyd rounds
    // (assignment ties cc DESC / scid ASC; integer-exact int8
    // component sums from the same fqv quantization; empty sub-cluster
    // keeps its previous centroid), the refined list cref = cold
    // centroids ∪ (RefineOffset + seed id) sub-centroids, then the
    // standard assignment/probe/candidate tail over cref. Depth
    // [[SplitIters]] = the RecallSweep knee (ivf_split_k32_i2).
    "q169_knn_split" -> Sql_q169,

    // q173: the auto route's sub-boundary arm IS q169's refined flat
    // join (the refinement conditions itself on the data in both
    // engines — the shot CTE is the engine's hotCellCount), and the
    // above-boundary descent arm is unreachable at oracle scale; one
    // truth, two registered plans (the q171 ≡ q168 convention).
    "q173_knn_auto" -> Sql_q169,

    // Standing-only fit unroll (predicate-filtered kmeansFitCtes),
    // both assignment passes, exact-integer bp stats; the +10000·n
    // shift keeps the cohesion division over non-negative operands
    // (trunc-vs-floor integer division diverges on negatives).
    "q160_ivf_drift" ->
      s"""WITH ${kmeansFitCtes(2, 43, "vec_id % 4 <> 0")},
        |sa AS (SELECT kee.vec_id, c.cid,
        |  ${OSql.cosSql("kee.embedding", "c.cvec")} AS cc
        | FROM kee CROSS JOIN c2 c),
        |ssel AS (SELECT vec_id, cid FROM sa
        |  QUALIFY row_number() OVER (PARTITION BY vec_id
        |    ORDER BY cc DESC, cid ASC) = 1),
        |scount AS (SELECT cid, count(*) AS ns FROM ssel GROUP BY 1),
        |bat AS (SELECT vec_id, embedding FROM embeddings
        |  WHERE vec_id % 4 = 0 AND embedding IS NOT NULL),
        |ba0 AS (SELECT b.vec_id, c.cid,
        |  ${OSql.cosSql("b.embedding", "c.cvec")} AS cc
        | FROM bat b CROSS JOIN c2 c),
        |ba AS (SELECT vec_id, cid, CAST(round(cc * 10000, 0) AS BIGINT) AS bp
        |  FROM ba0 QUALIFY row_number() OVER (PARTITION BY vec_id
        |    ORDER BY cc DESC, cid ASC) = 1),
        |bs AS (SELECT cid, count(*) AS nn, sum(bp) AS sbp,
        |    min(bp) AS mbp FROM ba GROUP BY 1)
        |SELECT CAST(c2.cid AS BIGINT) AS cell,
        |  CAST(coalesce(scount.ns, 0) AS BIGINT) AS n_standing,
        |  CAST(coalesce(bs.nn, 0) AS BIGINT) AS n_new,
        |  CAST((coalesce(bs.nn, 0) * 10000)
        |    // greatest(coalesce(scount.ns, 0), 1) AS BIGINT) AS growth_bp,
        |  CASE WHEN coalesce(bs.nn, 0) > 0 THEN
        |    CAST((bs.sbp + 10000 * bs.nn) // bs.nn AS BIGINT) - 10000
        |  END AS cohesion_bp,
        |  CASE WHEN coalesce(bs.nn, 0) > 0 THEN CAST(bs.mbp AS BIGINT)
        |  END AS min_cos_bp,
        |  (CASE WHEN coalesce(bs.nn, 0) > 0 THEN
        |     (CAST((bs.sbp + 10000 * bs.nn) // bs.nn AS BIGINT) - 10000) < 3500
        |   ELSE FALSE END
        |   OR CAST((coalesce(bs.nn, 0) * 10000)
        |     // greatest(coalesce(scount.ns, 0), 1) AS BIGINT) > 5000)
        |    AS needs_refit
        |FROM c2 LEFT JOIN scount USING (cid) LEFT JOIN bs USING (cid)""".stripMargin,

    // Standing fit (c2) + ONE warm-start Lloyd round over the FULL
    // corpus (fqv — full-corpus quantization, fa — assignment under
    // the OLD quantizer, farr/c3 — the int8-exact update) + both
    // assignment passes joined per vector; per-cell exact-integer
    // migration counts.
    "q161_ivf_refit" ->
      s"""WITH ${kmeansFitCtes(2, 43, "vec_id % 4 <> 0")},
        |fke AS (SELECT vec_id, embedding FROM embeddings
        |  WHERE embedding IS NOT NULL),
        |fqz AS (SELECT vec_id, embedding, list_max(list_transform(embedding,
        |    x -> abs(CAST(x AS DOUBLE)))) AS s FROM fke),
        |fqv AS (SELECT vec_id, embedding,
        |    CASE WHEN s = 0 THEN list_transform(embedding,
        |           x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(embedding,
        |           x -> CAST(round(CAST(x AS DOUBLE) * 127 / s) AS BIGINT))
        |    END AS q FROM fqz),
        |fa0 AS (SELECT fqv.vec_id, fqv.q, c.cid,
        |  ${OSql.cosSql("fqv.embedding", "c.cvec")} AS cc
        | FROM fqv CROSS JOIN c2 c),
        |fa AS (SELECT vec_id, q, cid FROM fa0
        |  QUALIFY row_number() OVER (PARTITION BY vec_id
        |    ORDER BY cc DESC, cid ASC) = 1),
        |fe AS (SELECT cid, pos, q[pos + 1] AS qd FROM (
        |   SELECT cid, q, unnest(generate_series(0, len(q) - 1)) AS pos
        |   FROM fa)),
        |fcs AS (SELECT cid, pos, CAST(sum(qd) AS BIGINT) AS cd
        |  FROM fe GROUP BY 1, 2),
        |farr AS (SELECT cid, list(CAST(cd AS FLOAT) ORDER BY pos) AS nv
        |  FROM fcs GROUP BY 1),
        |c3 AS (SELECT c.cid, coalesce(farr.nv, c.cvec) AS cvec
        |  FROM c2 c LEFT JOIN farr USING (cid)),
        |na0 AS (SELECT fqv.vec_id, c.cid,
        |  ${OSql.cosSql("fqv.embedding", "c.cvec")} AS cc
        | FROM fqv CROSS JOIN c3 c),
        |na AS (SELECT vec_id, cid FROM na0
        |  QUALIFY row_number() OVER (PARTITION BY vec_id
        |    ORDER BY cc DESC, cid ASC) = 1),
        |mv AS (SELECT fa.vec_id, fa.cid AS oc, na.cid AS nc
        |  FROM fa JOIN na USING (vec_id)),
        |bef AS (SELECT oc AS cid, count(*) AS nb FROM mv GROUP BY 1),
        |aft AS (SELECT nc AS cid, count(*) AS nf,
        |    sum(CASE WHEN oc = nc THEN 1 ELSE 0 END) AS nst
        |  FROM mv GROUP BY 1)
        |SELECT CAST(c2.cid AS BIGINT) AS cell,
        |  CAST(coalesce(bef.nb, 0) AS BIGINT) AS n_before,
        |  CAST(coalesce(aft.nf, 0) AS BIGINT) AS n_after,
        |  CAST(coalesce(aft.nst, 0) AS BIGINT) AS n_stay,
        |  CAST(coalesce(aft.nf, 0) - coalesce(aft.nst, 0) AS BIGINT) AS n_in,
        |  CAST(coalesce(bef.nb, 0) - coalesce(aft.nst, 0) AS BIGINT) AS n_out
        |FROM c2 LEFT JOIN bef USING (cid) LEFT JOIN aft USING (cid)""".stripMargin,

    // The q156 fit + assignment, documents joined on doc_id = vec_id,
    // (cell, token) counts scored by the exact-integer distinctiveness
    // weight tf·(n_groups − group_df + 1), top-3 by (score desc,
    // md5-hash60(token) asc) — vocabTopK's heap tie convention.
    "q162_cluster_card" ->
      s"""WITH ${kmeansFitCtes(2, pred = SamplePredSql, kcSql = CellsSql,
          seedPred = "TRUE")},
        |av0 AS (SELECT e.vec_id, c.cid,
        |  ${OSql.cosSql("e.embedding", "c.cvec")} AS cc
        | FROM embeddings e CROSS JOIN c2 c
        | WHERE e.embedding IS NOT NULL),
        |av AS (SELECT vec_id, cid FROM av0
        |  QUALIFY row_number() OVER (PARTITION BY vec_id
        |    ORDER BY cc DESC, cid ASC) = 1),
        |dt0 AS (SELECT av.cid AS cell,
        |   unnest(string_split(d.text, ' ')) AS token
        | FROM av JOIN documents d ON av.vec_id = d.doc_id),
        |dt AS (SELECT cell, token FROM dt0 WHERE len(token) > 0),
        |tf AS (SELECT cell, token, count(*) AS tf FROM dt GROUP BY 1, 2),
        |dfc AS (SELECT token, count(*) AS dfc FROM tf GROUP BY 1),
        |ngr AS (SELECT count(DISTINCT cell) AS ng FROM tf),
        |sc2 AS (SELECT tf.cell, tf.token, tf.tf, dfc.dfc,
        |   tf.tf * (ngr.ng - dfc.dfc + 1) AS score
        | FROM tf JOIN dfc USING (token) CROSS JOIN ngr),
        |rk AS (SELECT cell, token, tf, dfc, score, row_number() OVER (
        |   PARTITION BY cell ORDER BY score DESC,
        |     CAST(('0x'||substr(md5(token),1,15)) AS BIGINT) ASC) AS rank
        | FROM sc2)
        |SELECT CAST(cell AS BIGINT) AS cell, CAST(rank AS BIGINT) AS rank,
        |  token, CAST(tf AS BIGINT) AS tf, CAST(dfc AS BIGINT) AS group_df,
        |  CAST(score AS BIGINT) AS score
        |FROM rk WHERE rank <= 3""".stripMargin,

    // Positional 8-shingles, distinct-doc duplicated set, interval-union
    // islands (a start opens a new region when its gap to the previous
    // start exceeds n — spans merge while they overlap or touch), maximal
    // disjoint regions with 1-based token boundaries and exact span text.
    "q163_dup_spans" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |  FROM documents),
        |we AS (SELECT * FROM w WHERE len(ws) >= 8),
        |g AS (SELECT doc_id, ws, i AS pos,
        |   array_to_string(ws[i:i+7], ' ') AS sh
        | FROM we, lateral unnest(generate_series(1, len(ws) - 7)) t(i)),
        |hot AS (SELECT sh FROM g GROUP BY sh
        |  HAVING count(DISTINCT doc_id) >= 2),
        |d AS (SELECT g.doc_id, g.ws, g.pos FROM g JOIN hot USING (sh)),
        |lg AS (SELECT doc_id, ws, pos, CASE WHEN pos - lag(pos) OVER (
        |   PARTITION BY doc_id ORDER BY pos) > 8 THEN 1 ELSE 0 END AS opens
        | FROM d),
        |isl AS (SELECT doc_id, ws, pos, sum(opens) OVER (
        |   PARTITION BY doc_id ORDER BY pos) AS grp FROM lg),
        |sp AS (SELECT doc_id, min(pos) AS a, max(pos) AS b,
        |   any_value(ws) AS ws FROM isl GROUP BY doc_id, grp)
        |SELECT doc_id, CAST(a AS BIGINT) AS span_start,
        |  CAST(b + 7 AS BIGINT) AS span_end,
        |  CAST(b - a + 8 AS BIGINT) AS n_tokens,
        |  array_to_string(ws[a:b+7], ' ') AS span_text
        |FROM sp""".stripMargin,

    // Positional 8-shingles with the packed (doc·2^20 + pos) owner key,
    // duplicated set with corpus-first owners, token coverage resolved
    // over the duplicated sliver (cut iff no covering occurrence owns),
    // reassembly only for docs that lost tokens, pass-through otherwise.
    "q164_span_cut" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (SELECT doc_id, ws, i AS pos,
        |   array_to_string(ws[i:i+7], ' ') AS sh
        | FROM (SELECT * FROM w WHERE len(ws) >= 8) we,
        |   lateral unnest(generate_series(1, len(ws) - 7)) t(i)),
        |st AS (SELECT sh, min(doc_id * 1048576 + pos) AS own
        |  FROM g GROUP BY sh HAVING count(DISTINCT doc_id) >= 2),
        |d AS (SELECT g.doc_id, g.pos,
        |   (g.doc_id * 1048576 + g.pos = st.own) AS owned
        | FROM g JOIN st USING (sh)),
        |cv AS (SELECT doc_id, unnest(generate_series(pos, pos + 7)) AS t,
        |   owned FROM d),
        |ct AS (SELECT doc_id, t FROM cv GROUP BY doc_id, t
        |  HAVING NOT bool_or(owned)),
        |cc AS (SELECT doc_id, count(*) AS ncut FROM ct GROUP BY 1),
        |tok AS (SELECT w.doc_id, ti.i AS t, ws[ti.i] AS wd
        | FROM w JOIN cc USING (doc_id),
        |   lateral unnest(generate_series(1, len(ws))) ti(i)),
        |keep AS (SELECT tok.doc_id, tok.t, tok.wd FROM tok
        | LEFT JOIN ct ON tok.doc_id = ct.doc_id AND tok.t = ct.t
        | WHERE ct.t IS NULL),
        |rb AS (SELECT doc_id, string_agg(wd, ' ' ORDER BY t) AS rbt,
        |   count(*) AS nk FROM keep GROUP BY doc_id)
        |SELECT w.doc_id,
        |  CASE WHEN cc.doc_id IS NULL THEN array_to_string(ws, ' ')
        |       ELSE coalesce(rb.rbt, '') END AS dedup_text,
        |  CAST(CASE WHEN cc.doc_id IS NULL THEN len(ws)
        |       ELSE coalesce(rb.nk, 0) END AS BIGINT) AS n_tokens_kept,
        |  CAST(coalesce(cc.ncut, 0) AS BIGINT) AS n_tokens_cut
        |FROM w LEFT JOIN cc USING (doc_id) LEFT JOIN rb USING (doc_id)""".stripMargin,

    // q164's shape on the incremental split: the reference's DISTINCT
    // shingle set (rk), incoming positional shingles (g), duplicated
    // positions by semi-join, DISTINCT token coverage, reassembly only
    // for incoming docs that lost tokens.
    "q168_span_cut_ingest" -> SpanCutIngestSql,

    // q175: reference keys (rk) → batch-1 cut (d1/ct1) → batch-1
    // reassembly for EVERY doc (rb1 — string_agg over kept tokens =
    // the engine's dedup_text, original rejoined when nothing was
    // cut; fully-cut docs vanish, matching their empty dedup_text
    // producing no shingles) → appended keys (nk, len >= 8 like
    // spanIndexKeys) → the union index (idx2) → the q168 body for
    // batch 2 against idx2.
    "q175_span_index_update" ->
      """WITH rw AS (SELECT string_split(text, ' ') AS ws
        |  FROM documents WHERE text IS NOT NULL AND doc_id % 4 = 0),
        |rk AS (SELECT DISTINCT array_to_string(ws[i:i+7], ' ') AS sh
        | FROM (SELECT * FROM rw WHERE len(ws) >= 8) r,
        |   lateral unnest(generate_series(1, len(ws) - 7)) t(i)),
        |w1 AS (SELECT doc_id, string_split(text, ' ') AS ws
        |  FROM documents WHERE text IS NOT NULL AND doc_id % 4 IN (1, 2)),
        |g1 AS (SELECT doc_id, i AS pos, array_to_string(ws[i:i+7], ' ') AS sh
        | FROM (SELECT * FROM w1 WHERE len(ws) >= 8) we,
        |   lateral unnest(generate_series(1, len(ws) - 7)) t(i)),
        |d1 AS (SELECT g1.doc_id, g1.pos FROM g1 JOIN rk USING (sh)),
        |ct1 AS (SELECT DISTINCT doc_id, t FROM (
        |   SELECT doc_id, unnest(generate_series(pos, pos + 7)) AS t FROM d1)),
        |tok1 AS (SELECT w1.doc_id, ti.i AS t, ws[ti.i] AS wd
        | FROM w1, lateral unnest(generate_series(1, len(ws))) ti(i)),
        |keep1 AS (SELECT tok1.doc_id, tok1.t, tok1.wd FROM tok1
        | LEFT JOIN ct1 ON tok1.doc_id = ct1.doc_id AND tok1.t = ct1.t
        | WHERE ct1.t IS NULL),
        |rb1 AS (SELECT doc_id, string_agg(wd, ' ' ORDER BY t) AS dt
        |  FROM keep1 GROUP BY doc_id),
        |b1w AS (SELECT string_split(dt, ' ') AS ws FROM rb1),
        |nk AS (SELECT DISTINCT array_to_string(ws[i:i+7], ' ') AS sh
        | FROM (SELECT * FROM b1w WHERE len(ws) >= 8) b,
        |   lateral unnest(generate_series(1, len(ws) - 7)) t(i)),
        |idx2 AS (SELECT sh FROM rk UNION SELECT sh FROM nk),
        |w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |  FROM documents WHERE text IS NOT NULL AND doc_id % 4 = 3),
        |g AS (SELECT doc_id, i AS pos, array_to_string(ws[i:i+7], ' ') AS sh
        | FROM (SELECT * FROM w WHERE len(ws) >= 8) we,
        |   lateral unnest(generate_series(1, len(ws) - 7)) t(i)),
        |d AS (SELECT g.doc_id, g.pos FROM g JOIN idx2 USING (sh)),
        |ct AS (SELECT DISTINCT doc_id, t FROM (
        |   SELECT doc_id, unnest(generate_series(pos, pos + 7)) AS t FROM d)),
        |cc AS (SELECT doc_id, count(*) AS ncut FROM ct GROUP BY 1),
        |tok AS (SELECT w.doc_id, ti.i AS t, ws[ti.i] AS wd
        | FROM w JOIN cc USING (doc_id),
        |   lateral unnest(generate_series(1, len(ws))) ti(i)),
        |keep AS (SELECT tok.doc_id, tok.t, tok.wd FROM tok
        | LEFT JOIN ct ON tok.doc_id = ct.doc_id AND tok.t = ct.t
        | WHERE ct.t IS NULL),
        |rb AS (SELECT doc_id, string_agg(wd, ' ' ORDER BY t) AS rbt,
        |   count(*) AS nk FROM keep GROUP BY doc_id)
        |SELECT w.doc_id,
        |  CASE WHEN cc.doc_id IS NULL THEN array_to_string(ws, ' ')
        |       ELSE coalesce(rb.rbt, '') END AS dedup_text,
        |  CAST(CASE WHEN cc.doc_id IS NULL THEN len(ws)
        |       ELSE coalesce(rb.nk, 0) END AS BIGINT) AS n_tokens_kept,
        |  CAST(coalesce(cc.ncut, 0) AS BIGINT) AS n_tokens_cut
        |FROM w LEFT JOIN cc USING (doc_id) LEFT JOIN rb USING (doc_id)""".stripMargin,

    // The sample-fit model history unrolled: hash-sample membership as
    // a WHERE predicate (pure function of vec_id — engine hashSample
    // parity), seeds = the IvfCells lowest SAMPLED ids (ORDER BY/LIMIT
    // rule), 2 Lloyd rounds over the sample only; assignment + probes
    // then cover the FULL corpus — the scale-safe split (sampled fit,
    // exhaustive assignment) of SCALING.md's 30× prescription.
    "q165_knn_sampled_fit" ->
      s"""WITH ${kmeansFitCtes(2, IvfCells, SamplePredSql, seedLimit = true)},
        |fe AS (SELECT vec_id, embedding FROM embeddings
        |  WHERE embedding IS NOT NULL),
        |vass AS (SELECT fe.vec_id, fe.embedding, c.cid,
        |  ${OSql.cosSql("fe.embedding", "c.cvec")} AS cc
        | FROM fe CROSS JOIN c2 c),
        |vcell AS (SELECT vec_id, embedding, cid FROM vass
        |  QUALIFY row_number() OVER (PARTITION BY vec_id
        |    ORDER BY cc DESC, cid ASC) = 1),
        |vprobe AS (SELECT vec_id AS qid, embedding AS qv, cid FROM vass
        |  QUALIFY row_number() OVER (PARTITION BY vec_id
        |    ORDER BY cc DESC, cid ASC) <= $IvfProbe),
        |sc AS (SELECT p.qid, e.vec_id AS id,
        |  ${OSql.cosSql("e.embedding", "p.qv")} AS cos
        | FROM vcell e JOIN vprobe p ON e.cid = p.cid AND e.vec_id <> p.qid)
        |SELECT qid, id, cos,
        | row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS rank
        |FROM sc
        |QUALIFY row_number() OVER (PARTITION BY qid
        |  ORDER BY cos DESC, id ASC) <= 3""".stripMargin,

    // The whole two-level structure unrolled from the same corpus fit:
    // top-level Lloyd over the 32 fitted centroids themselves (tqv =
    // per-centroid int8 quantization, t0 = 8 lowest-cid seeds, two
    // update rounds t1/t2 — the kmeansFitCtes shape on a cells-sized
    // table), fines registered under their 2 nearest fitted tops (fb,
    // rn <= 2 — replicated registration), vectors descend their 3 best
    // branches (vt), then assignment (vcell) and 4-deep probes (vprobe)
    // rank the probed branches' fines with a DISTINCT collapsing the
    // replica duplicates — every stage the engine's round-6 comparator
    // with cid-ASC ties (DuckDB NaN-first-under-DESC = the zero-vector
    // rule).
    "q166_knn_two_level" -> Sql_q166,

    // q177: the auto route's ABOVE-BOUNDARY arm is q166's two-level
    // descent verbatim (same derivation/branches/replicas/probes — the
    // boundary knob is lowered to fixture scale so the descent arm
    // actually executes under the driver gate), so the oracle is
    // q166's SQL — one truth, two registered plans
    "q177_knn_auto_two_level" -> Sql_q166,

    // q178: sign-cell coverage of the registered prefix seed rule —
    // the q66-family sign-cell sum, the derived cell count (CellsSql)
    // and the prefix boundary (max id of the ORDER BY/LIMIT prefix)
    // as scalar subqueries; covered is the driver-safe 0/1 long
    "q178_seed_coverage" ->
      s"""WITH sd AS (SELECT vec_id FROM embeddings
        |  QUALIFY row_number() OVER (ORDER BY vec_id) <= $CellsSql),
        |b0 AS (SELECT vec_id, CAST(${(0 until 4).map(i =>
            s"(CASE WHEN embedding[${i + 1}] >= 0 THEN ${1L << i} ELSE 0 END)")
            .mkString(" + ")} AS BIGINT) AS cell
        |  FROM embeddings WHERE embedding IS NOT NULL)
        |SELECT cell, count(*) AS n_corpus,
        |  CAST(sum(CASE WHEN vec_id <= (SELECT max(vec_id) FROM sd)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_seeds,
        |  CAST(CASE WHEN sum(CASE WHEN vec_id <=
        |      (SELECT max(vec_id) FROM sd) THEN 1 ELSE 0 END) > 0
        |    THEN 1 ELSE 0 END AS BIGINT) AS covered
        |FROM b0 GROUP BY cell""".stripMargin,
  )

  /** q166's oracle body — shared verbatim with q177 (the auto route's
    * above-boundary arm IS q166's two-level descent: same derivation,
    * same branches/replicas/probes, so one SQL is the truth for both
    * registered plans — the q171 ≡ q168 / q174 ≡ q46 convention). */
  private lazy val Sql_q166: String = {
      val topRounds = (1 to 2).map { i =>
        s"""ta${i}0 AS (SELECT tqv.cid, tqv.q, t.tid,
           |  ${OSql.cosSql("tqv.cvec", "t.tvec")} AS cc
           | FROM tqv CROSS JOIN t${i - 1} t),
           |ta$i AS (SELECT cid, q, tid FROM ta${i}0
           |  QUALIFY row_number() OVER (PARTITION BY cid
           |    ORDER BY cc DESC, tid ASC) = 1),
           |te$i AS (SELECT tid, pos, q[pos + 1] AS qd FROM (
           |   SELECT tid, q, unnest(generate_series(0, len(q) - 1)) AS pos
           |   FROM ta$i)),
           |tcs$i AS (SELECT tid, pos, CAST(sum(qd) AS BIGINT) AS cd
           |  FROM te$i GROUP BY 1, 2),
           |tarr$i AS (SELECT tid, list(CAST(cd AS FLOAT) ORDER BY pos) AS nv
           |  FROM tcs$i GROUP BY 1),
           |t$i AS (SELECT t.tid, coalesce(tarr$i.nv, t.tvec) AS tvec
           |  FROM t${i - 1} t LEFT JOIN tarr$i USING (tid))""".stripMargin
      }.mkString(",\n")
      s"""WITH ${kmeansFitCtes(2, IvfCells)},
        |tq0 AS (SELECT cid, cvec, list_max(list_transform(cvec,
        |    x -> abs(CAST(x AS DOUBLE)))) AS s FROM c2),
        |tqv AS (SELECT cid, cvec,
        |    CASE WHEN s = 0 THEN list_transform(cvec,
        |           x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(cvec,
        |           x -> CAST(round(CAST(x AS DOUBLE) * 127 / s) AS BIGINT))
        |    END AS q FROM tq0),
        |t0 AS (SELECT cid AS tid, cvec AS tvec FROM c2
        |  ORDER BY cid LIMIT 8),
        |$topRounds,
        |fb0 AS (SELECT f.cid, f.cvec, t.tid,
        |  ${OSql.cosSql("f.cvec", "t.tvec")} AS cc
        | FROM c2 f CROSS JOIN t2 t),
        |fb AS (SELECT cid, cvec, tid FROM fb0
        |  QUALIFY row_number() OVER (PARTITION BY cid
        |    ORDER BY cc DESC, tid ASC) <= 2),
        |fe AS (SELECT vec_id, embedding FROM embeddings
        |  WHERE embedding IS NOT NULL),
        |vt0 AS (SELECT e.vec_id, t.tid,
        |  ${OSql.cosSql("e.embedding", "t.tvec")} AS cc
        | FROM fe e CROSS JOIN t2 t),
        |vt AS (SELECT vec_id, tid FROM vt0
        |  QUALIFY row_number() OVER (PARTITION BY vec_id
        |    ORDER BY cc DESC, tid ASC) <= 3),
        |vf0 AS (SELECT DISTINCT e.vec_id, e.embedding, fb.cid,
        |  ${OSql.cosSql("e.embedding", "fb.cvec")} AS cc
        | FROM fe e JOIN vt ON vt.vec_id = e.vec_id
        |   JOIN fb ON fb.tid = vt.tid),
        |vcell AS (SELECT vec_id, embedding, cid FROM vf0
        |  QUALIFY row_number() OVER (PARTITION BY vec_id
        |    ORDER BY cc DESC, cid ASC) = 1),
        |vprobe AS (SELECT vec_id AS qid, embedding AS qv, cid FROM vf0
        |  QUALIFY row_number() OVER (PARTITION BY vec_id
        |    ORDER BY cc DESC, cid ASC) <= $IvfProbe),
        |sc AS (SELECT p.qid, e.vec_id AS id,
        |  ${OSql.cosSql("e.embedding", "p.qv")} AS cos
        | FROM vcell e JOIN vprobe p ON e.cid = p.cid AND e.vec_id <> p.qid)
        |SELECT qid, id, cos,
        | row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS rank
        |FROM sc
        |QUALIFY row_number() OVER (PARTITION BY qid
        |  ORDER BY cos DESC, id ASC) <= 3""".stripMargin
  }

  /** q159's oracle: the q26 brute-cosine shortlist (top `m` per query),
    * pairwise round-6dp cosines, then `k` unrolled greedy MMR steps —
    * sel_i CTEs accumulate picks, each r_i scores the unpicked
    * remainder against max similarity to the picked set. Both weights
    * are interpolated as the JVM-computed doubles in full repr and
    * CAST to DOUBLE (a bare `1.0 - 0.7` would evaluate in DuckDB
    * DECIMAL — exactly 0.3 → double 0.2999999999999999889 — while the
    * engine's lit(1.0) − lit(0.7) folds to IEEE 0.30000000000000004:
    * 1 ulp apart, r16 ADVICE), so both engines provably share the
    * weights. */
  private def mmrSql(k: Int, m: Int, lambda: Double): String = {
    val wRel = s"CAST($lambda AS DOUBLE)"
    val wDiv = s"CAST(${1.0 - lambda} AS DOUBLE)"
    val head =
      s"""cq AS (SELECT vec_id AS qid, embedding AS qv
        |  FROM embeddings WHERE vec_id < 5),
        |sc0 AS (SELECT cq.qid, e.vec_id AS id, e.embedding AS v,
        |  ${OSql.cosSql("e.embedding", "cq.qv")} AS rel
        | FROM embeddings e CROSS JOIN cq),
        |cand AS (SELECT qid, id, v, rel FROM sc0
        |  QUALIFY row_number() OVER (PARTITION BY qid
        |    ORDER BY rel DESC, id ASC) <= $m),
        |ps AS (SELECT x.qid, x.id AS a, y.id AS b,
        |  ${OSql.cosSql("x.v", "y.v")} AS sim
        | FROM cand x JOIN cand y ON x.qid = y.qid AND x.id <> y.id),
        |s1 AS (SELECT qid, id, rel, mmrd FROM (
        |  SELECT qid, id, rel,
        |    CAST(round($wRel * rel, 9) AS DECIMAL(19,9)) AS mmrd,
        |    row_number() OVER (PARTITION BY qid
        |      ORDER BY CAST(round($wRel * rel, 9) AS DECIMAL(19,9)) DESC,
        |        id ASC) AS rn
        |  FROM cand) WHERE rn = 1),
        |sel1 AS (SELECT qid, id FROM s1)""".stripMargin
    val steps = (2 to k).map { i =>
      s"""ms$i AS (SELECT ps.qid, ps.a AS id, max(ps.sim) AS ms
        | FROM ps JOIN sel${i - 1} s ON ps.qid = s.qid AND ps.b = s.id
        | GROUP BY 1, 2),
        |r$i AS (SELECT c.qid, c.id, c.rel,
        |   CAST(round($wRel * c.rel, 9) AS DECIMAL(19,9))
        |     - CAST(round($wDiv * m.ms, 9) AS DECIMAL(19,9))
        |     AS mmrd
        | FROM cand c JOIN ms$i m ON c.qid = m.qid AND c.id = m.id
        | WHERE NOT EXISTS (SELECT 1 FROM sel${i - 1} s
        |   WHERE s.qid = c.qid AND s.id = c.id)),
        |s$i AS (SELECT qid, id, rel, mmrd FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY qid ORDER BY mmrd DESC, id ASC) AS rn
        |  FROM r$i) WHERE rn = 1),
        |sel$i AS (SELECT qid, id FROM sel${i - 1}
        |  UNION ALL SELECT qid, id FROM s$i)""".stripMargin
    }
    val out = (1 to k).map(i =>
      s"SELECT qid, CAST($i AS BIGINT) AS pick, id, rel, " +
        s"CAST(mmrd AS DOUBLE) AS mmr FROM s$i")
      .mkString("\nUNION ALL ")
    s"WITH $head,\n${steps.mkString(",\n")}\n$out"
  }

  /** q46's oracle body — shared verbatim with q174 (the persisted-
    * model probe must land on identical rows as the in-query fit; one
    * truth, two registered plans). */
  private lazy val Sql_q46: String =
      s"""WITH ${ivfKnnCtes(IvfProbe)},
        |sc AS (SELECT p.qid, e.vec_id AS id,
        |  ${OSql.cosSql("e.embedding", "p.qv")} AS cos
        | FROM vcell e JOIN vprobe p ON e.cid = p.cid AND e.vec_id <> p.qid)
        |SELECT qid, id, cos,
        | row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS rank
        |FROM sc
        |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) <= 3""".stripMargin

  /** q169's oracle body — shared verbatim with q173 (the auto route's
    * sub-boundary arm is q169's refined flat join; the shot CTE
    * conditions the split on the data exactly as the engine's
    * hotCellCount does, so one SQL covers both the split and
    * no-hot-cell arms). */
  private lazy val Sql_q169: String = {
      val rounds = (1 to SplitIters).map { i =>
        s"""ssa${i}0 AS (SELECT shm.vec_id, shm.q, shm.cid, p.scid,
           |  ${OSql.cosSql("shm.embedding", "p.cvec")} AS cc
           | FROM shm JOIN ss${i - 1} p USING (cid)),
           |ssa$i AS (SELECT vec_id, q, cid, scid FROM ssa${i}0
           |  QUALIFY row_number() OVER (PARTITION BY vec_id
           |    ORDER BY cc DESC, scid ASC) = 1),
           |sse$i AS (SELECT cid, scid, pos, q[pos + 1] AS qd FROM (
           |   SELECT cid, scid, q, unnest(generate_series(0, len(q) - 1)) AS pos
           |   FROM ssa$i)),
           |sscs$i AS (SELECT cid, scid, pos, CAST(sum(qd) AS BIGINT) AS cd
           |  FROM sse$i GROUP BY 1, 2, 3),
           |ssarr$i AS (SELECT cid, scid,
           |   list(CAST(cd AS FLOAT) ORDER BY pos) AS nv
           |  FROM sscs$i GROUP BY 1, 2),
           |ss$i AS (SELECT p.cid, p.scid, coalesce(a.nv, p.cvec) AS cvec
           |  FROM ss${i - 1} p LEFT JOIN ssarr$i a
           |    ON p.cid = a.cid AND p.scid = a.scid)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${ivfKnnCtes(IvfProbe)},
        |socc AS (SELECT cid, count(*) AS n FROM vcell GROUP BY 1),
        |shot AS (SELECT cid,
        |   greatest(2, CAST(ceil(n / $SplitTargetOcc.0) AS BIGINT)) AS subk
        | FROM socc WHERE n > $SplitAbove),
        |shm AS (SELECT vcell.vec_id, vcell.embedding, vcell.q, vcell.cid,
        |   shot.subk
        | FROM vcell JOIN shot USING (cid)),
        |ss0 AS (SELECT cid, vec_id AS scid, embedding AS cvec FROM (
        |   SELECT cid, vec_id, embedding, subk,
        |     row_number() OVER (PARTITION BY cid ORDER BY vec_id) AS rn
        |   FROM shm) t WHERE rn <= subk),
        |$rounds,
        |cref AS (SELECT cid, cvec FROM c2
        |   WHERE cid NOT IN (SELECT cid FROM shot)
        |  UNION ALL SELECT scid + ${Similarity.RefineOffset} AS cid, cvec
        |   FROM ss$SplitIters),
        |ra0 AS (SELECT fqv.vec_id, fqv.embedding, c.cid,
        |  ${OSql.cosSql("fqv.embedding", "c.cvec")} AS cc
        | FROM fqv CROSS JOIN cref c),
        |rcell AS (SELECT vec_id, embedding, cid FROM ra0
        |  QUALIFY row_number() OVER (PARTITION BY vec_id
        |    ORDER BY cc DESC, cid ASC) = 1),
        |rprobe AS (SELECT vec_id AS qid, embedding AS qv, cid FROM ra0
        |  QUALIFY row_number() OVER (PARTITION BY vec_id
        |    ORDER BY cc DESC, cid ASC) <= $IvfProbe),
        |rsc AS (SELECT p.qid, e.vec_id AS id,
        |  ${OSql.cosSql("e.embedding", "p.qv")} AS cos
        | FROM rcell e JOIN rprobe p ON e.cid = p.cid AND e.vec_id <> p.qid)
        |SELECT qid, id, cos,
        | row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS rank
        |FROM rsc
        |QUALIFY row_number() OVER (PARTITION BY qid
        |  ORDER BY cos DESC, id ASC) <= 3""".stripMargin
    }

  /** q168's oracle body — shared verbatim with q171 (the
    * persisted-index probe path must land on identical rows as the
    * in-query rebuild; one truth, two registered plans). */
  private lazy val SpanCutIngestSql: String =
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |  FROM documents WHERE text IS NOT NULL AND doc_id % 4 <> 0),
        |rw AS (SELECT string_split(text, ' ') AS ws
        |  FROM documents WHERE text IS NOT NULL AND doc_id % 4 = 0),
        |rk AS (SELECT DISTINCT array_to_string(ws[i:i+7], ' ') AS sh
        | FROM (SELECT * FROM rw WHERE len(ws) >= 8) r,
        |   lateral unnest(generate_series(1, len(ws) - 7)) t(i)),
        |g AS (SELECT doc_id, i AS pos, array_to_string(ws[i:i+7], ' ') AS sh
        | FROM (SELECT * FROM w WHERE len(ws) >= 8) we,
        |   lateral unnest(generate_series(1, len(ws) - 7)) t(i)),
        |d AS (SELECT g.doc_id, g.pos FROM g JOIN rk USING (sh)),
        |ct AS (SELECT DISTINCT doc_id, t FROM (
        |   SELECT doc_id, unnest(generate_series(pos, pos + 7)) AS t FROM d)),
        |cc AS (SELECT doc_id, count(*) AS ncut FROM ct GROUP BY 1),
        |tok AS (SELECT w.doc_id, ti.i AS t, ws[ti.i] AS wd
        | FROM w JOIN cc USING (doc_id),
        |   lateral unnest(generate_series(1, len(ws))) ti(i)),
        |keep AS (SELECT tok.doc_id, tok.t, tok.wd FROM tok
        | LEFT JOIN ct ON tok.doc_id = ct.doc_id AND tok.t = ct.t
        | WHERE ct.t IS NULL),
        |rb AS (SELECT doc_id, string_agg(wd, ' ' ORDER BY t) AS rbt,
        |   count(*) AS nk FROM keep GROUP BY doc_id)
        |SELECT w.doc_id,
        |  CASE WHEN cc.doc_id IS NULL THEN array_to_string(ws, ' ')
        |       ELSE coalesce(rb.rbt, '') END AS dedup_text,
        |  CAST(CASE WHEN cc.doc_id IS NULL THEN len(ws)
        |       ELSE coalesce(rb.nk, 0) END AS BIGINT) AS n_tokens_kept,
        |  CAST(coalesce(cc.ncut, 0) AS BIGINT) AS n_tokens_cut
        |FROM w LEFT JOIN cc USING (doc_id) LEFT JOIN rb USING (doc_id)""".stripMargin

  /** q156's oracle body — shared with the q149 eval-card composition. */
  private lazy val Sql_q156: String =
      s"""WITH ${kmeansFitCtes(2, pred = SamplePredSql, kcSql = CellsSql,
          seedPred = "TRUE")},
        |av0 AS (SELECT e.vec_id, e.embedding, c.cid,
        |  ${OSql.cosSql("e.embedding", "c.cvec")} AS cc
        | FROM embeddings e CROSS JOIN c2 c
        | WHERE e.embedding IS NOT NULL),
        |av AS (SELECT vec_id, embedding, cid FROM av0
        |  QUALIFY row_number() OVER (PARTITION BY vec_id
        |    ORDER BY cc DESC, cid ASC) = 1),
        |vq0 AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
        |  WHERE vec_id < 5),
        |vp0 AS (SELECT vq0.qid, vq0.qv, c.cid,
        |  ${OSql.cosSql("vq0.qv", "c.cvec")} AS cc
        | FROM vq0 CROSS JOIN c2 c),
        |vp AS (SELECT qid, qv, cid FROM vp0
        |  QUALIFY row_number() OVER (PARTITION BY qid
        |    ORDER BY cc DESC, cid ASC) <= 2),
        |vsc AS (SELECT vp.qid, av.vec_id AS id,
        |  ${OSql.cosSql("av.embedding", "vp.qv")} AS cos
        | FROM av JOIN vp ON av.cid = vp.cid)
        |SELECT qid, id, cos,
        | row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS rank
        |FROM vsc
        |QUALIFY row_number() OVER (PARTITION BY qid
        |  ORDER BY cos DESC, id ASC) <= 5""".stripMargin
}
