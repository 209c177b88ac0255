package graft.stream

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Typed record for the stateful streaming operators (the reference's
  * `{:key k :value v :timestamp t}`, `experiment.clj:287-291`), with
  * epoch-millis timestamps like the reference. */
final case class Rec[K, V](key: K, value: V, tsMs: Long)

/** Typed stateful streaming operators via `flatMapGroupsWithState` — the
  * pieces of the reference's semantics that Spark's declarative streaming
  * aggregation cannot express:
  *
  *  - [[latestPerKeyState]]: per-record changelog emission of the latest
  *    value per key (willa's eager KTable updates,
  *    `cache.max.bytes.buffering=0`, `example.clj:17`) — a streaming
  *    aggregate emits per micro-batch, not per record; this emits every
  *    update.
  *  - [[aggregateState]]: running aggregate changelog (adder fold,
  *    `experiment.clj:231-238`: inputs 1,2 → outputs 1,3).
  *  - [[aggregateWithSubtractor]]: KGroupedTable adder+subtractor
  *    (`streams.clj:44-50`): when a key's value is replaced, the old value
  *    is subtracted from the group aggregate and the new one added.
  *
  * State is one small object per group key, partitioned by Spark's state
  * store — memory scales with key cardinality, not stream length, and
  * each group's records are processed independently (cluster-parallel). */
object Streamed {

  /** Latest-per-key with per-update changelog emission. */
  def latestPerKeyState[K: Encoder, V: Encoder](
      ds: Dataset[Rec[K, V]])(implicit re: Encoder[Rec[K, V]]): Dataset[Rec[K, V]] = {
    implicit val tupleEnc: Encoder[(V, Long)] = Encoders.tuple(
      implicitly[Encoder[V]], Encoders.scalaLong)
    ds.groupByKey(_.key)
      .flatMapGroupsWithState[(V, Long), Rec[K, V]](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: K, records: Iterator[Rec[K, V]], state: GroupState[(V, Long)]) =>
          val sorted = records.toSeq.sortBy(_.tsMs)
          val out = scala.collection.mutable.ArrayBuffer.empty[Rec[K, V]]
          var cur = state.getOption
          sorted.foreach { r =>
            if (cur.forall(_._2 <= r.tsMs)) {
              cur = Some((r.value, r.tsMs))
              out += r
            }
          }
          cur.foreach(state.update)
          out.iterator
      }
  }

  /** Running-aggregate changelog: emits acc-so-far for every input record
    * in ts order within each micro-batch (exact parity with
    * `streams_test.clj:35-60` when records arrive in order). */
  def aggregateState[K: Encoder, V: Encoder, A: Encoder](
      ds: Dataset[Rec[K, V]], init: A, adder: (A, V) => A)(
      implicit outEnc: Encoder[Rec[K, A]]): Dataset[Rec[K, A]] = {
    ds.groupByKey(_.key)
      .flatMapGroupsWithState[A, Rec[K, A]](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: K, records: Iterator[Rec[K, V]], state: GroupState[A]) =>
          var acc = state.getOption.getOrElse(init)
          val out = records.toSeq.sortBy(_.tsMs).map { r =>
            acc = adder(acc, r.value)
            Rec(key, acc, r.tsMs)
          }
          state.update(acc)
          out.iterator
      }
  }

  /** Stream–table as-of join with BOTH sides streaming: per-key state
    * holds the latest table value; each left record is emitted with the
    * table value current at its event time within the micro-batch
    * (records are ts-sorted per batch, table updates applied before
    * same-ts lookups — the reference's equal-ts rule). Cross-batch, the
    * state carries the latest value; event-time correctness across
    * batches assumes sources deliver roughly in order (no reordering
    * buffer — willa/Kafka Streams make the same assumption). */
  def asOfState[K: Encoder, VL: Encoder, VR: Encoder](
      lefts: Dataset[Rec[K, VL]], rights: Dataset[Rec[K, VR]])(
      implicit inEnc: Encoder[Rec[K, (Option[VL], Option[VR])]],
      stEnc: Encoder[(VR, Long)],
      outEnc: Encoder[Rec[K, (VL, Option[VR])]]): Dataset[Rec[K, (VL, Option[VR])]] = {
    val tagged = lefts.map(r => Rec(r.key, (Option(r.value), Option.empty[VR]), r.tsMs))
      .union(rights.map(r => Rec(r.key, (Option.empty[VL], Option(r.value)), r.tsMs)))
    tagged.groupByKey(_.key)
      .flatMapGroupsWithState[(VR, Long), Rec[K, (VL, Option[VR])]](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: K, records: Iterator[Rec[K, (Option[VL], Option[VR])]],
         state: GroupState[(VR, Long)]) =>
          // table updates sort before lookups at equal ts (right side = 0)
          val sorted = records.toSeq.sortBy(r => (r.tsMs, if (r.value._2.isDefined) 0 else 1))
          var cur = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[Rec[K, (VL, Option[VR])]]
          sorted.foreach { r =>
            r.value match {
              case (_, Some(rv)) => if (cur.forall(_._2 <= r.tsMs)) cur = Some((rv, r.tsMs))
              case (Some(lv), _) => out += Rec(key, (lv, cur.map(_._1)), r.tsMs)
              case _ => ()
            }
          }
          cur.foreach(state.update)
          out.iterator
      }
  }

  /** First-occurrence dedup — the streaming half of the reference's
    * dedupe fragment (willa `workflow.clj:6-24`: aggregate
    * [emitted-value, known-ids set], emit a value only the first time its
    * id-fn result is seen; batch form: [[graft.ops.Dedup.keepFirst]] /
    * the spliced [[graft.dsl.Fragments.dedupe]]). Records are processed
    * in ts order within each micro-batch; the seen-id set persists in the
    * state store across batches, so a duplicate arriving hours later is
    * still dropped. State grows with DISTINCT ids per key — exactly the
    * reference's known-ids-set footprint; at 100 TB bound it by keying on
    * a coarse entity and hashing the id, or use Spark's built-in
    * `dropDuplicatesWithinWatermark` when a bounded dedup horizon is
    * acceptable (state then expires with the watermark). */
  def firstPerIdState[K: Encoder, V: Encoder, I](
      ds: Dataset[Rec[K, V]], idFn: Rec[K, V] => I)(
      implicit stEnc: Encoder[Set[I]], re: Encoder[Rec[K, V]]): Dataset[Rec[K, V]] =
    ds.groupByKey(_.key)
      .flatMapGroupsWithState[Set[I], Rec[K, V]](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: K, records: Iterator[Rec[K, V]], state: GroupState[Set[I]]) =>
          var seen = state.getOption.getOrElse(Set.empty[I])
          val out = records.toSeq.sortBy(_.tsMs).flatMap { r =>
            val id = idFn(r)
            if (seen(id)) None else { seen = seen + id; Some(r) }
          }
          state.update(seen)
          out.iterator
      }

  /** LIVE conversion funnel — the streaming twin of
    * [[graft.ops.Events.funnel]]. The batch form's greedy
    * earliest-feasible matching is an ONLINE algorithm (at step i, take
    * the first event of type steps(i) with ts strictly after step i−1's
    * time), so the per-key state is just `(stepsDone, lastStepTs)` —
    * two fields per user, independent of history length, the smallest
    * state any funnel can carry. Each advance emits
    * `Rec(key, (newStepsDone, tsOfThatStep), ts)` — a live funnel
    * progress changelog (dashboard the max per key).
    *
    * Events are processed in ts order within each micro-batch; on feeds
    * that arrive in ts order across batches the final per-key
    * (stepsDone, stepTs) chain equals the batch funnel exactly
    * (congruity-tested). Out-of-order arrival across micro-batches can
    * miss a chain the batch form would find (an earlier-ts step
    * arriving late cannot rewind state) — the same documented
    * arrival-order caveat as the dedupe fragments. */
  def funnelState[K: Encoder](ds: Dataset[Rec[K, String]], steps: Seq[String])(
      implicit outEnc: Encoder[Rec[K, (Int, Long)]]): Dataset[Rec[K, (Int, Long)]] = {
    require(steps.size >= 2, s"need >= 2 steps, got ${steps.size}")
    require(steps.distinct.size == steps.size, s"duplicate steps in $steps")
    implicit val stEnc: Encoder[(Int, Long)] =
      Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong)
    ds.groupByKey(_.key)
      .flatMapGroupsWithState[(Int, Long), Rec[K, (Int, Long)]](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: K, records: Iterator[Rec[K, String]], state: GroupState[(Int, Long)]) =>
          var (done, lastTs) = state.getOption.getOrElse((0, Long.MinValue))
          val out = scala.collection.mutable.ArrayBuffer.empty[Rec[K, (Int, Long)]]
          records.toSeq.sortBy(_.tsMs).foreach { r =>
            if (done < steps.size && r.value == steps(done) &&
                (done == 0 || r.tsMs > lastTs)) {
              done += 1
              lastTs = r.tsMs
              out += Rec(key, (done, r.tsMs), r.tsMs)
            }
          }
          state.update((done, lastTs))
          out.iterator
      }
  }

  /** LIVE gap sessionization — the streaming twin of
    * [[graft.ops.Events.sessionize]]. Gap-based session assignment is an
    * ONLINE algorithm over a ts-ordered feed (an event opens a new
    * session iff it is the key's first or follows a gap > `gapMs`), so
    * the per-key state is `(sessionIdx, lastTs, posInSession)` — three
    * fields per user, independent of history length. Each event emits
    * `Rec(key, (session_id, session_event), ts)`, the same user-local
    * 1-based numbering as the batch form.
    *
    * Events are processed in ts order within each micro-batch; on feeds
    * that arrive in ts order across batches (and with per-key distinct
    * timestamps — the batch form breaks ts ties with its `orderCol`,
    * which has no analogue here) the assignment equals the batch
    * sessionize exactly (congruity-tested). A late event across batches
    * cannot rewind a closed boundary: arriving with ts ≤ lastTs it
    * joins the CURRENT session (its gap is non-positive) — the same
    * documented arrival-order caveat as [[funnelState]] and the dedupe
    * fragments. Unlike Spark's native session window this emits
    * per-event immediately (no watermark hold-back) and never merges
    * windows — assignment is final at arrival, the latency/fidelity
    * trade the changelog consumers here want. */
  def sessionizeState[K: Encoder](ds: Dataset[Rec[K, Long]], gapMs: Long)(
      implicit outEnc: Encoder[Rec[K, (Long, Long)]]): Dataset[Rec[K, (Long, Long)]] = {
    require(gapMs > 0, s"gapMs > 0, got $gapMs")
    implicit val stEnc: Encoder[(Long, Long, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)
    ds.groupByKey(_.key)
      .flatMapGroupsWithState[(Long, Long, Long), Rec[K, (Long, Long)]](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: K, records: Iterator[Rec[K, Long]],
            state: GroupState[(Long, Long, Long)]) =>
          var (sid, lastTs, pos) = state.getOption.getOrElse((0L, Long.MinValue, 0L))
          val out = scala.collection.mutable.ArrayBuffer.empty[Rec[K, (Long, Long)]]
          records.toSeq.sortBy(_.tsMs).foreach { r =>
            if (sid == 0L || r.tsMs - lastTs > gapMs) { sid += 1; pos = 1L }
            else pos += 1L
            lastTs = r.tsMs
            out += Rec(key, (sid, pos), r.tsMs)
          }
          state.update((sid, lastTs, pos))
          out.iterator
      }
  }

  /** Buffer state for [[trailingWindowState]]: the key's in-horizon
    * events as parallel (ts, value) arrays — bounded by window
    * occupancy, the [[graft.dsl.Fragments]] bounded-horizon discipline
    * applied to a rolling aggregate. */
  final case class TrailState(ts: Array[Long], vs: Array[Long])

  /** LIVE trailing event-time window — the streaming twin of
    * [[graft.ops.Events.trailingWindow]]: for every event, the count
    * and sum over the SAME key's events in the closed interval
    * `[ts − windowMs, ts]`, emitted per event as
    * `Rec(key, (w_count, w_sum), ts)` — the real-time rolling feature
    * (24h activity, 7-day spend) batch q74 computes offline. Per-key
    * state is the in-horizon event buffer, pruned at every advance —
    * bounded by one window's occupancy per key (the bounded-horizon
    * discipline), NOT by stream length.
    *
    * Congruity contract (tested): on feeds arriving in ts order the
    * per-event (count, sum) equals the batch RANGE frame exactly —
    * including same-ts peers, which the batch frame makes MUTUAL
    * members: events sharing one timestamp are buffered and emitted
    * together once the run ends, so each sees the full peer set. The
    * two caveats are arrival-order shaped, like every live twin here:
    * a same-ts run SPLIT ACROSS micro-batches under-counts the earlier
    * emissions (the batch boundary is the commit point — peers landing
    * later cannot retract an emitted row), and a late event joins
    * windows from its arrival position onward only. */
  def trailingWindowState[K: Encoder](ds: Dataset[Rec[K, Long]], windowMs: Long)(
      implicit outEnc: Encoder[Rec[K, (Long, Long)]]): Dataset[Rec[K, (Long, Long)]] = {
    require(windowMs > 0, s"windowMs > 0, got $windowMs")
    implicit val stEnc: Encoder[TrailState] = Encoders.product[TrailState]
    ds.groupByKey(_.key)
      .flatMapGroupsWithState[TrailState, Rec[K, (Long, Long)]](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: K, records: Iterator[Rec[K, Long]], state: GroupState[TrailState]) =>
          val st = state.getOption.getOrElse(TrailState(Array.empty, Array.empty))
          var buf = st.ts.zip(st.vs).toVector
          val out = scala.collection.mutable.ArrayBuffer.empty[Rec[K, (Long, Long)]]
          // same-ts runs emit together so peers are mutual, as in the
          // batch RANGE frame
          records.toSeq.sortBy(_.tsMs).groupBy(_.tsMs).toSeq.sortBy(_._1)
            .foreach { case (ts, peers) =>
              buf = buf.filter(_._1 >= ts - windowMs) ++
                peers.map(p => (p.tsMs, p.value))
              val n = buf.size.toLong
              val s = buf.map(_._2).sum
              peers.foreach(p => out += Rec(key, (n, s), p.tsMs))
            }
          state.update(TrailState(buf.map(_._1).toArray, buf.map(_._2).toArray))
          out.iterator
      }
  }

  /** Output row of [[driftState]]: running count, OLS slope and signed
    * r² (nulls while the key's variance is degenerate) — the
    * [[graft.ops.Stats.driftByGroup]] statistics, live. */
  final case class DriftOut(n: Long, slope: Option[Double],
      corr2Signed: Option[Double])

  /** LIVE drift monitoring — the streaming twin of
    * [[graft.ops.Stats.driftByGroup]]: per key, the running OLS slope
    * and signed r² of an integral metric y against an integral axis x,
    * re-emitted on every observation. The six raw moments (n, Σx, Σy,
    * Σx², Σy², Σxy) are the entire per-key state — constant size, and
    * because they are exact integers the emitted statistics match the
    * batch form BIT-FOR-BIT on the same observations (same centered
    * forms, same one-cast-per-moment double tree, same 6-dp rounding;
    * congruity-tested) with no arrival-order caveat at all: moments
    * are commutative, so unlike the dedupe/funnel/session twins this
    * one is order-INSENSITIVE — any arrival order yields the batch
    * answer once all records land. Overflow bound (documented in the
    * batch scaladoc as the 38-digit form): state here is Long, exact
    * while n·|x|·|y| < 2^63 per key — |x| ≤ 10^4, |y| ≤ 10^6 holds to
    * ~9·10^8 observations per key; rescale the axis past that. */
  def driftState[K: Encoder](ds: Dataset[Rec[K, (Long, Long)]])(
      implicit outEnc: Encoder[Rec[K, DriftOut]]): Dataset[Rec[K, DriftOut]] = {
    implicit val stEnc: Encoder[DriftSt] = Encoders.product[DriftSt]
    def r6(v: Double): Double =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    ds.groupByKey(_.key)
      .flatMapGroupsWithState[DriftSt, Rec[K, DriftOut]](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: K, records: Iterator[Rec[K, (Long, Long)]],
            state: GroupState[DriftSt]) =>
          var DriftSt(n, sx, sy, sxx, syy, sxy) =
            state.getOption.getOrElse(DriftSt(0L, 0L, 0L, 0L, 0L, 0L))
          val out = scala.collection.mutable.ArrayBuffer.empty[Rec[K, DriftOut]]
          records.toSeq.sortBy(_.tsMs).foreach { r =>
            val (x, y) = r.value
            n += 1; sx += x; sy += y
            sxx += x * x; syy += y * y; sxy += x * y
            val cov = n * sxy - sx * sy
            val vx = n * sxx - sx * sx
            val vy = n * syy - sy * sy
            val slope = if (vx == 0) None else Some(r6(cov.toDouble / vx.toDouble))
            val c2 = if (vx == 0 || vy == 0) None
              else Some(r6((if (cov < 0) -1.0 else 1.0) *
                cov.toDouble * cov.toDouble / (vx.toDouble * vy.toDouble)))
            out += Rec(key, DriftOut(n, slope, c2), r.tsMs)
          }
          state.update(DriftSt(n, sx, sy, sxx, syy, sxy))
          out.iterator
      }
  }

  /** State for [[ivfDriftState]]: exact integer moments of the cell's
    * arrived members. */
  final case class IvfDriftSt(nNew: Long, sumBp: Long, minBp: Long)

  /** One emitted drift row: the cell's standing occupancy, arrivals so
    * far, growth/cohesion/min in integer basis points, refit flag —
    * [[graft.ops.Similarity.ivfDrift]]'s facts, live. */
  final case class IvfDriftOut(nStanding: Long, nNew: Long, growthBp: Long,
      cohesionBp: Long, minCosBp: Long, needsRefit: Boolean)

  /** LIVE IVF drift monitor — the streaming twin of
    * [[graft.ops.Similarity.ivfDrift]]: the stream carries
    * already-assigned `(cell, bp)` records (the producer maps raw
    * vectors through [[graft.ops.Similarity.assignBp]] — the SAME
    * stateless codegen projection the batch op uses, so assignment
    * can't diverge between the twins), `standingCounts` is the fitted
    * index's occupancy (a cells-sized model, broadcast as a plain Map),
    * and each arrival re-emits its cell's updated drift facts. State
    * per cell is three longs (count, bp sum, bp min) — constant size,
    * commutative moments, so like [[driftState]] this twin is
    * order-INSENSITIVE: once all records land, every cell's final
    * emission equals the batch row bit-for-bit (congruity-tested;
    * cells that receive no arrivals never emit — the batch op's
    * null-stat rows, which a monitor reads from the index itself).
    * The integer arithmetic is the batch op's exactly, including the
    * +10⁴·n shift keeping the cohesion division over non-negative
    * operands. */
  def ivfDriftState(ds: Dataset[Rec[Long, Long]],
      standingCounts: Map[Long, Long], cohesionFloorBp: Long,
      growthCapBp: Long)(
      implicit outEnc: Encoder[Rec[Long, IvfDriftOut]])
      : Dataset[Rec[Long, IvfDriftOut]] = {
    implicit val stEnc: Encoder[IvfDriftSt] = Encoders.product[IvfDriftSt]
    implicit val keyEnc: Encoder[Long] = Encoders.scalaLong
    ds.groupByKey(_.key)
      .flatMapGroupsWithState[IvfDriftSt, Rec[Long, IvfDriftOut]](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (cell: Long, records: Iterator[Rec[Long, Long]],
            state: GroupState[IvfDriftSt]) =>
          var IvfDriftSt(n, sum, mn) =
            state.getOption.getOrElse(IvfDriftSt(0L, 0L, Long.MaxValue))
          val nStanding = standingCounts.getOrElse(cell, 0L)
          val out = scala.collection.mutable.ArrayBuffer
            .empty[Rec[Long, IvfDriftOut]]
          records.toSeq.sortBy(_.tsMs).foreach { r =>
            n += 1; sum += r.value; mn = math.min(mn, r.value)
            val growth = (n * 10000L) / math.max(nStanding, 1L)
            val cohesion = (sum + 10000L * n) / n - 10000L
            out += Rec(cell, IvfDriftOut(nStanding, n, growth, cohesion, mn,
              cohesion < cohesionFloorBp || growth > growthCapBp), r.tsMs)
          }
          state.update(IvfDriftSt(n, sum, mn))
          out.iterator
      }
  }

  /** LIVE per-group admission quota: admit at most `n` records per key,
    * first-come-first-admitted in (ts, arrival) order — the ingest-time
    * domain cap ("stop taking documents from this domain once we have
    * n") that keeps a crawler's hot domain from flooding a live
    * pipeline. State is ONE counter per key. Deliberately NOT the
    * batch [[graft.ops.Sampling.capPerGroup]]'s selection: the batch
    * form picks a deterministic hash-ranked subset (re-runnable on a
    * closed corpus), while an online quota cannot know future arrivals
    * and admits the first n — both are documented contracts, choose by
    * whether the corpus is closed. Admitted records pass through
    * unchanged; over-quota records are dropped. */
  def capPerGroupState[K: Encoder, V](ds: Dataset[Rec[K, V]], n: Long)(
      implicit re: Encoder[Rec[K, V]]): Dataset[Rec[K, V]] = {
    require(n >= 1, s"n >= 1, got $n")
    implicit val longEnc: Encoder[Long] = Encoders.scalaLong
    ds.groupByKey(_.key)
      .flatMapGroupsWithState[Long, Rec[K, V]](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: K, records: Iterator[Rec[K, V]], state: GroupState[Long]) =>
          var admitted = state.getOption.getOrElse(0L)
          val out = scala.collection.mutable.ArrayBuffer.empty[Rec[K, V]]
          records.toSeq.sortBy(_.tsMs).foreach { r =>
            if (admitted < n) { admitted += 1; out += r }
          }
          state.update(admitted)
          out.iterator
      }
  }

  /** Decayed-score state: the bucket of the last event, the 2^60-scaled
    * integer sum as a decimal string (BigInt survives any stream
    * length; a long would overflow), and the lifetime event count. */
  final case class DecaySt(lastBucket: Long, scaled: String, n: Long)

  /** One emitted decayed-score row: key, the event's bucket, events
    * folded so far, and the score AS OF THAT EVENT'S BUCKET (6 dp). */
  final case class DecayOut[K](key: K, bucket: Long, n_events: Long,
      score: Double)

  /** Live twin of [[graft.ops.Events.decayedScore]] — the running
    * recency-weighted engagement score, updated per event instead of
    * recomputed against a batch-close anchor. State per key is ONE
    * (last bucket, scaled integer sum) pair; on an event `shift`
    * buckets later the sum right-shifts by `shift` (each shift is one
    * exact half-life) and the event's integer units land at the 2^60
    * scale. The shift TRUNCATES residue below 2⁻⁶⁰ of a fresh unit —
    * the live rendering of the batch horizon: a contribution vanishes
    * entirely once shifted past bit 0. On bucket-aligned feeds (the
    * batch op ages by `floor((asOf − ts)/bucket)`, the live one by
    * bucket-index difference — equal when timestamps sit on bucket
    * boundaries) whose ages stay within the horizon or beyond it by
    * more than the units' bit width, the final per-key score equals
    * the batch op's at `asOfUs = lastBucket · bucketUs` exactly —
    * spec-pinned. In-order contract as the
    * family's other twins (records fold in (ts, arrival) order;
    * BACKWARD time travel within a key is rejected at fold time —
    * a decayed score cannot be un-decayed). Emits one [[DecayOut]]
    * per event (Update mode). */
  def decayedState[K: Encoder](ds: Dataset[Rec[K, (Long, Double)]],
      bucketUs: Long, horizon: Int = 60)(
      implicit outEnc: Encoder[DecayOut[K]]): Dataset[DecayOut[K]] = {
    require(bucketUs > 0, s"bucketUs > 0, got $bucketUs")
    require(horizon >= 1 && horizon <= 62, s"horizon in [1, 62], got $horizon")
    implicit val stEnc: Encoder[DecaySt] = Encoders.product[DecaySt]
    ds.groupByKey(_.key)
      .flatMapGroupsWithState[DecaySt, DecayOut[K]](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: K, records: Iterator[Rec[K, (Long, Double)]],
            state: GroupState[DecaySt]) =>
          var (lastB, scaled, n) = state.getOption match {
            case Some(DecaySt(b, s, cnt)) => (b, BigInt(s), cnt)
            case None => (Long.MinValue, BigInt(0), 0L)
          }
          val out = scala.collection.mutable.ArrayBuffer.empty[DecayOut[K]]
          records.toSeq.sortBy(_.tsMs).foreach { r =>
            val (tsUs, value) = r.value
            val b = Math.floorDiv(tsUs, bucketUs)
            require(b >= lastB || lastB == Long.MinValue,
              s"decayedState($key): event at bucket $b after bucket $lastB — " +
                "out-of-order beyond the micro-batch; feed in order")
            val shift = if (lastB == Long.MinValue) 0L
              else math.min(b - lastB, horizon + 64L)
            scaled = (scaled >> shift.toInt) +
              (BigInt(math.round(value)) << horizon)
            lastB = b
            n += 1
            out += DecayOut(key, b, n,
              BigDecimal(scaled.toDouble / math.pow(2.0, horizon))
                .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP)
                .toDouble)
          }
          state.update(DecaySt(lastB, scaled.toString, n))
          out.iterator
      }
  }

  /** One Space-Saving summary shard: at most k (key, count, overcount)
    * entries. */
  final case class HeavyKeysSt(entries: Seq[(String, Long, Long)])

  /** One emitted heavy-keys row: shard, key, estimated count, and the
    * estimate's maximum overcount (`est − err ≤ true ≤ est`). */
  final case class HeavyKey(shard: Int, key: String, est: Long, err: Long)

  /** LIVE heavy-keys — the streaming twin of the exact batch top-k
    * (q52): SHARDED Space-Saving (Metwally et al., ICDT 2005). Keys
    * hash into `shards` state groups; each shard keeps at most `k`
    * (key, count, overcount) entries — an arriving tracked key
    * increments its count; an untracked key evicts the shard's minimum
    * and inherits its count as overcount. Totals are bounded by
    * shards·k entries FOREVER (heavy hitters over an unbounded stream
    * cannot keep exact per-key counts — that state is key-cardinality
    * sized, the thing this operator exists to avoid); the classic
    * guarantees hold per shard: `est − err ≤ true ≤ est`, and every
    * key with true count > n_shard / k is present. Sharding keeps the
    * state-store work distributed (one giant global summary would put
    * the whole stream behind one state key) at the cost of the
    * guarantee applying per shard, not globally — merge shard
    * summaries downstream and treat `err` as the confidence signal.
    * Emits each UPDATED shard's full summary every micro-batch
    * (Update mode); read the latest batch per shard. With shards = 1
    * and k ≥ distinct keys the summary is exact (err 0, counts equal
    * the batch aggregate's). Records are processed in (ts, arrival)
    * order within a batch, the family's in-order contract. */
  def heavyKeysState(ds: Dataset[Rec[String, Long]], k: Int,
      shards: Int = 32): Dataset[HeavyKey] = {
    require(k >= 1, s"k >= 1, got $k")
    require(shards >= 1, s"shards >= 1, got $shards")
    implicit val stEnc: Encoder[HeavyKeysSt] = Encoders.product[HeavyKeysSt]
    implicit val outEnc: Encoder[HeavyKey] = Encoders.product[HeavyKey]
    implicit val intEnc: Encoder[Int] = Encoders.scalaInt
    ds.groupByKey(r => math.floorMod(r.key.hashCode, shards))
      .flatMapGroupsWithState[HeavyKeysSt, HeavyKey](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (shard: Int, records: Iterator[Rec[String, Long]],
            state: GroupState[HeavyKeysSt]) =>
          val m = scala.collection.mutable.Map.empty[String, (Long, Long)]
          state.getOption.foreach(_.entries.foreach { case (key, c, e) =>
            m(key) = (c, e) })
          records.toSeq.sortBy(_.tsMs).foreach { r =>
            m.get(r.key) match {
              case Some((c, e)) => m(r.key) = (c + 1, e)
              case None if m.size < k => m(r.key) = (1L, 0L)
              case None =>
                val (mk, (mc, _)) = m.minBy { case (key, (c, _)) => (c, key) }
                m.remove(mk)
                m(r.key) = (mc + 1, mc)
            }
          }
          val entries = m.toSeq.map { case (key, (c, e)) => (key, c, e) }
            .sortBy { case (key, c, _) => (-c, key) }
          state.update(HeavyKeysSt(entries))
          entries.iterator.map { case (key, c, e) => HeavyKey(shard, key, c, e) }
      }
  }

  /** Live twin of [[graft.ops.Events.transitionCounts]]'s pair
    * EXTRACTION: per-user consecutive (from, to) event-type pairs
    * emitted AS THEY ARRIVE — state is one (last type, last ts) per
    * user, so a transition is visible one event after it happens
    * instead of at batch close. Counting and out-degree shares are a
    * downstream aggregation over the emitted pairs (exactly the batch
    * op's second stage). In-order contract like the family's other
    * twins: records are processed in (tsMs, arrival) order within a
    * micro-batch and state carries the last event across batches, so
    * an in-order feed reproduces the batch pair multiset; same-ts
    * events rely on arrival order where the batch form uses the
    * explicit order column. Emits Rec(user, (from, to), ts-of-to). */
  def transitionsState[K: Encoder](ds: Dataset[Rec[K, String]])(
      implicit outEnc: Encoder[Rec[K, (String, String)]]): Dataset[Rec[K, (String, String)]] = {
    implicit val stEnc: Encoder[(String, Long)] =
      Encoders.tuple(Encoders.STRING, Encoders.scalaLong)
    ds.groupByKey(_.key)
      .flatMapGroupsWithState[(String, Long), Rec[K, (String, String)]](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: K, records: Iterator[Rec[K, String]],
            state: GroupState[(String, Long)]) =>
          var prev = state.getOption
          val out = scala.collection.mutable.ArrayBuffer
            .empty[Rec[K, (String, String)]]
          records.toSeq.sortBy(_.tsMs).foreach { r =>
            prev.foreach { case (pt, _) => out += Rec(key, (pt, r.value), r.tsMs) }
            prev = Some((r.value, r.tsMs))
          }
          prev.foreach(state.update)
          out.iterator
      }
  }

  /** Moment state for [[driftState]]: six exact integer sums. */
  final case class DriftSt(n: Long, sx: Long, sy: Long, sxx: Long,
      syy: Long, sxy: Long)

  /** Live rolling active users — the streaming twin of
    * [[graft.ops.Events.rollingActiveUsers]]: for every day with
    * activity, the distinct users active in the trailing `windowDays`
    * window ending that day, maintained incrementally and emitted as a
    * per-day changelog (key = epoch-day index, value = count so far).
    *
    * Presence replication, the same shape as the batch form: each event
    * registers its user under every window END day its activity day
    * feeds (`d .. d+windowDays−1`), so state is keyed by the OUTPUT day
    * and each group is self-contained — no cross-key reads, cluster-
    * parallel. A day emits only once it is OBSERVED (an event actually
    * on that day arrived — mirroring the batch form's observed-days
    * join), and re-emits only when its count grows or it flips to
    * observed.
    *
    * State: per window-end day, the distinct-user set plus the observed
    * flag — bounded by active users per window, times the windowDays
    * replication. Days stop changing once the feed moves past them but
    * the sets persist (NoTimeout — the congruity contract is exact
    * parity with batch on any replay); a production deployment caps
    * retention by watermarking the input and dropping days older than
    * the horizon, trading the ability to count very-late events.
    *
    * Write amplification, decomposed (RollingStateProbe measures all
    * three): presence replication sends `windowDays` EXCHANGE rows per
    * input row toward the state shuffle, so each micro-batch partition
    * first collapses to its DISTINCT (user, activity-day) pairs
    * (keeping the max event ts) BEFORE expanding — a stateless
    * map-side pre-aggregation bounding exchange rows by distinct
    * user-days per batch, not events (measured: 700k → 210k on the
    * uniform StreamBench feed, → 21k on the clumped twin). GROUP-state
    * writes are a separate quantity no input collapse can change:
    * flatMapGroupsWithState rewrites each TOUCHED day-group once per
    * batch (numRowsUpdated = touched groups), so feeds whose cost is
    * rewriting a few large per-day user sets measure flat wall-clock
    * either way — the exchange win materializes where batches are
    * duplication-heavy and day-cardinality is high (the clumped
    * regime), and on any real cluster where shuffle rows are network
    * bytes. Congruent by construction: the state op unions users, ORs
    * observed, and maxes ts — idempotent/commutative in exactly the
    * collapsed dimensions. */
  def rollingActiveState(ds: Dataset[Rec[String, Long]], windowDays: Int)(
      implicit pairEnc: Encoder[Rec[Long, (String, Boolean)]],
      dayEnc: Encoder[Rec[Long, String]],
      stEnc: Encoder[(Set[String], Boolean)],
      outEnc: Encoder[Rec[Long, Long]]): Dataset[Rec[Long, Long]] = {
    require(windowDays >= 1 && windowDays <= 366,
      s"windowDays in [1, 366], got $windowDays")
    val dayMs = 86400000L
    val perDay = ds.mapPartitions { it =>
      val m = scala.collection.mutable.HashMap.empty[(Long, String), Long]
      it.foreach { r =>
        val k = (Math.floorDiv(r.tsMs, dayMs), r.key)
        val t = m.getOrElse(k, Long.MinValue)
        if (r.tsMs > t) m(k) = r.tsMs
      }
      m.iterator.map { case ((d, u), t) => Rec(d, u, t) }
    }
    val expanded = perDay.flatMap { r =>
      (0 until windowDays).map(i => Rec(r.key + i, (r.value, i == 0), r.tsMs))
    }
    expanded.groupByKey(_.key)(Encoders.scalaLong)
      .flatMapGroupsWithState[(Set[String], Boolean), Rec[Long, Long]](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (day: Long, records: Iterator[Rec[Long, (String, Boolean)]],
         state: GroupState[(Set[String], Boolean)]) =>
          var (users, observed) =
            state.getOption.getOrElse((Set.empty[String], false))
          val before = (users.size, observed)
          var lastTs = 0L
          records.foreach { r =>
            users += r.value._1
            if (r.value._2) observed = true
            lastTs = math.max(lastTs, r.tsMs)
          }
          state.update((users, observed))
          if (observed && (users.size, observed) != before)
            Iterator.single(Rec(day, users.size.toLong, lastTs))
          else Iterator.empty
      }
  }

  /** Per-segment output of [[proportionAbState]]: running arm counts
    * plus the exact significance verdict at this point of the stream. */
  final case class AbOut(segment: String, n_a: Long, k_a: Long,
      n_b: Long, k_b: Long, significant: Long, tsMs: Long)

  /** Live two-proportion A/B monitor — the streaming twin of
    * [[graft.ops.Stats.proportionAb]]: per segment, four running
    * counters (trials and successes per arm) and the pooled-z²
    * significance verdict recomputed on every update, decided with the
    * SAME fully-exact cross-multiplied inequality as the batch form
    * (BigInt here, DECIMAL(38,0) there — identical verdicts on
    * identical counts, congruity-tested). Counts commute, so arrival
    * order cannot change any emission's value — the strongest congruity
    * contract of the live twins. State: four longs per segment,
    * constant forever.
    *
    * The experiment-ops use: a dashboard watching `significant` flip
    * during a rollout — with the standard peeking caveat (repeated
    * looks at a fixed-threshold z inflate false positives; that is the
    * statistics of CONTINUOUS MONITORING, not of this operator —
    * sequential-testing corrections change `critBp`, nothing else). */
  def proportionAbState(ds: Dataset[Rec[String, (String, Long)]],
      armA: String, armB: String, critBp: Long = 19600L)(
      implicit stEnc: Encoder[(Long, Long, Long, Long)],
      outEnc: Encoder[AbOut]): Dataset[AbOut] = {
    require(armA != armB, "arms must differ")
    ds.groupByKey(_.key)(Encoders.STRING)
      .flatMapGroupsWithState[(Long, Long, Long, Long), AbOut](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (seg: String, records: Iterator[Rec[String, (String, Long)]],
         state: GroupState[(Long, Long, Long, Long)]) =>
          var (na, ka, nb, kb) = state.getOption.getOrElse((0L, 0L, 0L, 0L))
          var lastTs = 0L
          var touched = false
          records.foreach { r =>
            val (arm, s) = r.value
            val s01 = if (s != 0L) 1L else 0L
            if (arm == armA) { na += 1; ka += s01; touched = true }
            else if (arm == armB) { nb += 1; kb += s01; touched = true }
            lastTs = math.max(lastTs, r.tsMs)
          }
          state.update((na, ka, nb, kb))
          if (!touched || na < 1 || nb < 1) Iterator.empty
          else {
            val (bna, bka, bnb, bkb) = (BigInt(na), BigInt(ka), BigInt(nb), BigInt(kb))
            val k = bka + bkb; val n = bna + bnb
            val d = bka * bnb - bkb * bna
            val sig =
              if (k <= 0 || k >= n) 0L
              else if (d * d * n * 100000000L >=
                BigInt(critBp) * critBp * k * (n - k) * bna * bnb) 1L
              else 0L
            Iterator.single(AbOut(seg, na, ka, nb, kb, sig, lastTs))
          }
      }
  }

  /** KGroupedTable-style aggregate with subtractor: the stream is a table
    * changelog keyed by the TABLE key; `groupKey` re-keys for aggregation.
    * On an update to a table key, the previous value is subtracted and the
    * new one added (willa `streams.clj:44-50`). Emits the group aggregate
    * after every update. State per group: the group acc + the latest value
    * per member table-key (bounded by member cardinality). */
  def aggregateWithSubtractor[K: Encoder, G: Encoder, V: Encoder, A: Encoder](
      ds: Dataset[Rec[K, V]],
      groupKey: Rec[K, V] => G,
      init: A,
      adder: (A, V) => A,
      subtractor: (A, V) => A)(
      implicit stEnc: Encoder[(A, Map[K, V])], outEnc: Encoder[Rec[G, A]]): Dataset[Rec[G, A]] = {
    ds.groupByKey(groupKey)
      .flatMapGroupsWithState[(A, Map[K, V]), Rec[G, A]](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (gkey: G, records: Iterator[Rec[K, V]], state: GroupState[(A, Map[K, V])]) =>
          var (acc, members) = state.getOption.getOrElse((init, Map.empty[K, V]))
          val out = records.toSeq.sortBy(_.tsMs).map { r =>
            members.get(r.key).foreach(old => acc = subtractor(acc, old))
            acc = adder(acc, r.value)
            members = members + (r.key -> r.value)
            Rec(gkey, acc, r.tsMs)
          }
          state.update((acc, members))
          out.iterator
      }
  }

  /** Live twin of [[graft.ops.Dedup.spanCutAgainstIndex]] — span-cut
    * crawl ingest on a live feed against the STANDING span index
    * (r18, the q77/q78 chained-ingest discipline at span granularity).
    *
    * Why `foreachBatch` and not a raw streaming plan: span-cut must
    * REASSEMBLE each document's surviving tokens, and reassembly is a
    * per-document aggregation — on a raw streaming plan Spark would
    * materialize it as a state store that can never be read again (a
    * document is complete the moment it arrives; nothing merges across
    * batches). Instead each arriving micro-batch runs the BATCH
    * operator atomically against the static index under a per-batch
    * [[graft.ops.CacheScope]]: one code path (zero live-vs-batch
    * divergence possible), and the streaming query itself carries ZERO
    * state operators — all cross-batch knowledge lives in the
    * PERSISTED index, none in stream state (asserted in
    * CurationOpsSpec). Batch-split invariance is exact by the
    * [[graft.ops.Dedup.spanCutAgainst]] contract: documents do not
    * interact (within-batch duplication is out of scope), so the union
    * of per-batch outputs equals the batch operator over the union —
    * the congruity the unit suite pins.
    *
    * `sink` receives each micro-batch's cut/reassembled rows
    * ([[graft.ops.Dedup.spanCutDedup]]'s output shape) INSIDE the
    * batch scope — write them there (the loan-pattern contract). */
  /** LIVE COMPOSED curation ingest — q170's streaming twin (r19,
    * verdict task 4): gate → span-cut-against-index → near-dup-against
    * → per-source admission quota, on one live document feed, with the
    * quota counter as the ONLY stream state. Two chained streaming
    * queries (the Kafka-stage deployment shape, files as the stage
    * boundary):
    *
    *  1. THE STATELESS FRONT (returned first): each micro-batch runs
    *     the BATCH operators atomically under a per-batch
    *     [[graft.ops.CacheScope]] — the quality `gate`, [[graft.ops
    *     .Dedup.spanCutAgainstIndex]] against the standing span index,
    *     the `minKept` survivor floor, then [[graft.ops.Dedup
    *     .minhashMatchedAgainst]] + [[graft.ops.Dedup
    *     .dropNearDupsAgainst]] over the REASSEMBLED `dedup_text`
    *     (span-cut first, near-dup second — q170's Lee-et-al ordering)
    *     against the standing signatures. One code path with the batch
    *     composition (zero live-vs-batch divergence possible), ZERO
    *     state operators — all cross-batch knowledge lives in the two
    *     PERSISTED standing structures. Survivors land in
    *     `stagingDir/b=<batchId>` through [[graft.sources.Sources
    *     .idempotentBatchWriter]] (exactly-once per batch under
    *     restart).
    *  2. THE QUOTA STAGE (returned second): a file stream over the
    *     staging dir feeding [[capPerGroupState]] keyed on `source` —
    *     admit the first `capN` survivors per source in (doc_id,
    *     arrival) order (doc_id is the tie-stable tsMs: the front
    *     emits whole batches, so arrival order is batch order). ONE
    *     state operator holding ONE counter per source; its checkpoint
    *     (`ckptCap`) is the composition's only stream state, asserted
    *     in the spec together with the front's empty list.
    *
    * `sink` receives each cap-stage micro-batch's ADMITTED rows
    * (`key` = source, `value` = (doc_id, dedup_text, n_tokens_kept),
    * `tsMs` = doc_id). Congruity (spec-pinned): with the quota open
    * the live survivor set equals the batch composition over the
    * union; under a binding quota the per-source admitted counts are
    * exact across batch splits AND a restart.
    *
    * Cap contract: with `maxBucket > 0` the INCOMING side's occupancy
    * caps apply PER MICRO-BATCH (the q77 live contract — a stream has
    * no global bucket counts), so a multi-batch feed can keep
    * near-cap buckets a one-shot batch run over the union would cap.
    * The cap is the STATIC side's skew guard; the static registration
    * is capped once over the whole standing corpus either way, and
    * the congruity spec runs the open form.
    *
    * SELF-UPDATING SPAN INDEX (r19 verdict task 3 — opt in by passing
    * `spanIndexDir`): with a non-null dir, the front IGNORES the
    * frozen `refIndex` frame and instead resolves the standing index
    * fresh from the dir each batch, then ABSORBS the batch's ADMITTED
    * survivors' reassembled-text shingles into `spanIndexDir/b=<id>`
    * ([[graft.ops.Dedup.spanIndexAppend]] under [[graft.sources
    * .Sources.stageBatchAtomically]] — exactly-once under replay), so
    * live batch N+1 span-cuts against reference ∪ batches 1..N's
    * survivors: q175's two-batch discipline at stream granularity
    * (spec-pinned congruity + the frozen-index control). Seed the dir
    * with the reference keys before start (e.g. `spanIndexDir/ref`);
    * the dir belongs to this query alone. The near-dup signature side
    * stays frozen by design here — [[vectorCorpusIngestLive]] is the
    * growing-signature discipline on the embedding path. */
  def curationIngestLive(incoming: org.apache.spark.sql.DataFrame,
      refIndex: org.apache.spark.sql.DataFrame,
      refSigs: org.apache.spark.sql.DataFrame,
      gate: org.apache.spark.sql.Column, minKept: Long, spanN: Int,
      sigN: Int, sigK: Int, rowsPerBand: Int, threshold: Double,
      maxBucket: Long, capN: Long, stagingDir: String,
      ckptFront: String, ckptCap: String,
      spanIndexDir: String = null)(
      sink: Dataset[Rec[String, (Long, String, Long)]] => Unit)
      : (org.apache.spark.sql.streaming.StreamingQuery,
         org.apache.spark.sql.streaming.StreamingQuery) = {
    import org.apache.spark.sql.functions._
    val session = incoming.sparkSession
    import session.implicits._
    // the staging boundary must exist before the quota stage's file
    // source resolves its schema (a Kafka-stage boundary would be a
    // pre-created topic; here it's a pre-created dir)
    new org.apache.hadoop.fs.Path(stagingDir).getFileSystem(
      session.sparkContext.hadoopConfiguration)
      .mkdirs(new org.apache.hadoop.fs.Path(stagingDir))
    CheckpointFiles.install(session)
    val front = incoming.writeStream.outputMode("append")
      .option("checkpointLocation", ckptFront)
      .foreachBatch(graft.sources.Sources.idempotentBatchWriter(
          s"$ckptFront/__sink_mark") { (batch, id) =>
        graft.ops.CacheScope.using { sc =>
          // self-updating span index (r19 verdict task 3, opted in via
          // `spanIndexDir`): resolve the standing index FRESH per batch
          // — reference ∪ every prior batch's absorbed survivors; the
          // pre-batch file-listing snapshot keeps spanIndexAppend's
          // read-your-own-writes hazard structurally unreachable
          val idx =
            if (spanIndexDir == null) refIndex
            else session.read.option("recursiveFileLookup", "true")
              .parquet(spanIndexDir)
          val gated = batch.filter(gate)
          val cut = graft.ops.Dedup.spanCutAgainstIndex(
            gated, idx, "doc_id", col("text"), spanN, sc)
          val surv = cut.filter(col("n_tokens_kept") >= minKept)
            .join(gated.select(col("doc_id"), col("source")), "doc_id")
          val sigs = graft.ops.Dedup.minHashSignatures(
            surv, "doc_id", col("dedup_text"), sigN, sigK)
          val matched = graft.ops.Dedup.minhashMatchedAgainst(
            sigs, refSigs, "doc_id", sigK, rowsPerBand, threshold,
            maxBucket, sc)
          val admittedRaw = graft.ops.Dedup.dropNearDupsAgainst(
              surv, "doc_id", matched)
            .select(col("doc_id"), col("dedup_text"),
              col("n_tokens_kept"), col("source"))
          // when updating, the admitted rows feed BOTH the staging
          // write and the index append — one materialization
          val admitted =
            if (spanIndexDir == null) admittedRaw else sc.cache(admittedRaw)
          graft.sources.Sources.stageBatchAtomically(session,
            s"$stagingDir/b=$id") { admitted }
          if (spanIndexDir != null)
            // absorb the batch's ADMITTED survivors' reassembled-text
            // shingles (q175's append rule — new keys only, cost ∝
            // batch); exactly-once under replay by the same
            // skip-if-committed discipline as the staging write
            graft.sources.Sources.stageBatchAtomically(session,
              s"$spanIndexDir/b=$id") {
              graft.ops.Dedup.spanIndexAppend(idx, admitted,
                col("dedup_text"), spanN)
            }
        }
      }).start()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("dedup_text",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_tokens_kept",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("source",
        org.apache.spark.sql.types.StringType)))
    val staged = session.readStream.schema(schema)
      // recursive lookup: b=<id> subdirs must read as FILES of one
      // stream, not as a partition column the schema doesn't carry
      .option("recursiveFileLookup", "true")
      .parquet(stagingDir)
    val recs = staged.select(col("source").as("key"),
        struct(col("doc_id").as("_1"), col("dedup_text").as("_2"),
          col("n_tokens_kept").as("_3")).as("value"),
        col("doc_id").as("tsMs"))
      .as[Rec[String, (Long, String, Long)]]
    val capQ = capPerGroupState(recs, capN)
      .writeStream.outputMode("update")
      .option("checkpointLocation", ckptCap)
      .foreachBatch {
        (b: Dataset[Rec[String, (Long, String, Long)]], _: Long) =>
          sink(b)
          ()
      }.start()
    (front, capQ)
  }

  /** LIVE span-cut ingest with a SELF-UPDATING standing index — q175's
    * two-batch discipline composed into the stream (r19 verdict task
    * 3: [[curationIngestLive]] cuts every batch against a FROZEN
    * index, so live batch N+1 never saw batch N's survivors). Each
    * micro-batch, atomically under [[graft.sources.Sources
    * .idempotentBatchWriter]]:
    *
    *  1. resolves the standing index FRESH from `indexDir` (a plain
    *     recursive parquet read — the file listing snapshots at read
    *     time, BEFORE this batch's append lands, so the
    *     [[graft.ops.Dedup.spanIndexAppend]] read-your-own-writes
    *     hazard cannot fire: every frame derives from the pre-batch
    *     listing);
    *  2. span-cuts the batch against it ([[graft.ops.Dedup
    *     .spanCutAgainstIndex]] — one code path with the batch
    *     operator), materialized ONCE per batch (it feeds both the
    *     append and the sink);
    *  3. APPENDS the batch's new keys — the survivors' REASSEMBLED
    *     `dedup_text` shingles anti-joined against the standing set
    *     (q175's exact append rule, cost ∝ batch) — into
    *     `indexDir/b=<batchId>` through [[graft.sources.Sources
    *     .stageBatchAtomically]]: all-or-nothing visibility and
    *     at-most-once publication, so a crash/replay can neither
    *     half-append nor double-append (the restart spec kills the
    *     query between batches and proves the append landed exactly
    *     once);
    *  4. hands the cut rows to `sink` (the batch scope is still open).
    *
    * The streaming query carries ZERO state operators — ALL cross-
    * batch knowledge lives in the growing persisted index, exactly
    * like the batch q175 whose congruity the spec pins (live batch 2
    * provably shares runs with batch 1's survivors, not just the
    * reference). `indexDir` must be SEEDED before start (write the
    * reference corpus's [[graft.ops.Dedup.spanIndexKeys]] under e.g.
    * `indexDir/ref` — a parquet read cannot infer a schema from an
    * empty dir), and belongs to THIS query alone: the per-batch read →
    * cut → append sequence is the single-writer contract the
    * idempotent mark fences. */
  def spanIndexIngestLive(incoming: org.apache.spark.sql.DataFrame,
      indexDir: String, idCol: String,
      text: org.apache.spark.sql.Column, n: Int, checkpoint: String)(
      sink: org.apache.spark.sql.DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val session = incoming.sparkSession
    CheckpointFiles.install(session)
    incoming.writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch(graft.sources.Sources.idempotentBatchWriter(
          s"$checkpoint/__sink_mark") { (batch, id) =>
        graft.ops.CacheScope.using { sc =>
          // fresh standing-index resolution: reference ∪ every prior
          // batch's appended keys (the b=<id> subdirs read as files of
          // one frame, not as a partition column)
          val idx = session.read
            .option("recursiveFileLookup", "true").parquet(indexDir)
          val cut = sc.cache(graft.ops.Dedup.spanCutAgainstIndex(
            batch, idx, idCol, text, n, sc))
          graft.sources.Sources.stageBatchAtomically(session,
            s"$indexDir/b=$id") {
            graft.ops.Dedup.spanIndexAppend(idx, cut,
              org.apache.spark.sql.functions.col("dedup_text"), n)
          }
          sink(cut)
        }
      }).start()
  }

  /** LIVE vector-corpus ingest with a SELF-GROWING standing corpus —
    * q176's two-batch discipline composed into the stream (r19 verdict
    * task 4, the embedding twin of [[spanIndexIngestLive]]): each
    * micro-batch is near-dup-dropped against reference ∪ ALL PRIOR
    * admitted survivors, and its own survivors join the corpus for the
    * next batch — so a near-dup of an ADMITTED crawl vector is
    * rejected even though it matches nothing in the original
    * reference. Per batch, atomically under the idempotent writer:
    * resolve the standing corpus fresh from `corpusDir` (pre-batch
    * listing snapshot), drop the batch against it ([[graft.ops.Dedup
    * .cosineMatchedAgainst]] + [[graft.ops.Dedup.dropNearDupsAgainst]]
    * — q176's exact machinery and constants, within-batch duplication
    * out of scope per the family contract), stage the survivors into
    * `corpusDir/b=<batchId>` ([[graft.sources.Sources
    * .stageBatchAtomically]] — exactly-once under replay), then sink
    * them. ZERO state operators on the stream (the q78 pin) — the
    * growing corpus dir is the only cross-batch state. `corpusDir`
    * must be seeded with the reference rows in `incoming`'s schema
    * (survivor rows append in the same shape), and is this query's
    * alone. */
  def vectorCorpusIngestLive(incoming: org.apache.spark.sql.DataFrame,
      corpusDir: String, idCol: String, vecCol: String, signBits: Int,
      threshold: Double, maxBucket: Long, probes: Int,
      checkpoint: String)(
      sink: org.apache.spark.sql.DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val session = incoming.sparkSession
    CheckpointFiles.install(session)
    incoming.writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch(graft.sources.Sources.idempotentBatchWriter(
          s"$checkpoint/__sink_mark") { (batch, id) =>
        graft.ops.CacheScope.using { sc =>
          val corpus = session.read
            .option("recursiveFileLookup", "true").parquet(corpusDir)
          val survivors = sc.cache(graft.ops.Dedup.dropNearDupsAgainst(
            batch, idCol,
            graft.ops.Dedup.cosineMatchedAgainst(batch, corpus, idCol,
              org.apache.spark.sql.functions.col(vecCol), signBits,
              threshold, maxBucket, probes, sc)))
          graft.sources.Sources.stageBatchAtomically(session,
            s"$corpusDir/b=$id") {
            survivors.select(corpus.columns.map(
              org.apache.spark.sql.functions.col): _*)
          }
          sink(survivors)
        }
      }).start()
  }

  def spanCutIngestLive(incoming: org.apache.spark.sql.DataFrame,
      refIndex: org.apache.spark.sql.DataFrame, idCol: String,
      text: org.apache.spark.sql.Column, n: Int, checkpoint: String)(
      sink: org.apache.spark.sql.DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    CheckpointFiles.install(incoming.sparkSession)
    incoming.writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch {
        (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
          graft.ops.CacheScope.using { sc =>
            sink(graft.ops.Dedup.spanCutAgainstIndex(
              batch.toDF(), refIndex, idCol, text, n, sc))
          }
          ()
      }.start()
  }
}
