package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Bounded top-k aggregate: keeps the k best (score desc, id asc) rows
  * seen so far — O(k) state per group on every executor. The reference
  * form [[TopKHash]] replaced; TopKHashSpec checks the two agree.
  *
  * Why this beats the window-rank top-k at scale: `row_number over
  * (partition by qid order by score)` must shuffle EVERY scored row to
  * the qid's partition and sort there; this Aggregator participates in
  * partial aggregation, so each map task reduces its slice to k rows
  * before the shuffle — the exchange carries k × tasks rows instead of
  * the whole corpus, and no per-group sort of the full candidate set
  * exists anywhere. Registered via `functions.udaf` (SURVEY §7.4's
  * custom-aggregate path).
  */
final class TopKAggregator(k: Int) extends Aggregator[Scored, Seq[Scored], Seq[Scored]] {

  // java.lang.Double.compare total order (NaN sorts above +∞, matching
  // Spark's descending sort in the window-rank variant) so NaN scores —
  // e.g. cosine of a zero vector — keep the buffer invariant intact and
  // both top-k forms stay row-identical.
  private def better(a: Scored, b: Scored): Boolean = {
    val c = java.lang.Double.compare(a.score, b.score)
    c > 0 || (c == 0 && a.id < b.id)
  }

  /** Insert keeping the buffer sorted best-first, truncated at k. */
  private def insert(buf: Seq[Scored], x: Scored): Seq[Scored] = {
    if (buf.size >= k && better(buf.last, x)) buf
    else {
      val (pre, post) = buf.span(better(_, x))
      (pre :+ x) ++ post.take(k - pre.size - 1)
    }
  }

  override def zero: Seq[Scored] = Vector.empty
  override def reduce(buf: Seq[Scored], x: Scored): Seq[Scored] = insert(buf, x)
  override def merge(a: Seq[Scored], b: Seq[Scored]): Seq[Scored] =
    b.foldLeft(a)(insert)
  override def finish(buf: Seq[Scored]): Seq[Scored] = buf
  override def bufferEncoder: Encoder[Seq[Scored]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Scored]]()
  override def outputEncoder: Encoder[Seq[Scored]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Scored]]()
}
