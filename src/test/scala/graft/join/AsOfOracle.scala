package graft.join

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import PointInTimeJoin.{Backward, Direction, Forward, Nearest}

/** Naive in-memory as-of oracle for the join specs: collects the entity
  * frame and every view's rows, and for each entity row scans that
  * key's view rows — no Spark join, aggregate or window. Timestamps
  * compare in microseconds; NULLs order first, as in Spark structs. An
  * entity row is identified by all of its columns, so neither a unique
  * id nor distinct rows are assumed.
  *
  * A view's `ttlSeconds` is its window in every direction (the
  * [[PointInTimeJoin.asOf]] contract): the TTL backward (None/0 =
  * unbounded), the horizon forward, the tolerance for nearest. */
object AsOfOracle {

  /** Entity row (all its columns) → every admissible winner of `v`
    * (several only when rows tie on the whole order key), each as its
    * feature values. Entity rows without an admissible view row are
    * absent; equal entity rows share one entry. */
  def winners(entity: DataFrame, entityTs: String,
      v: ResolvedView, dir: Direction): Map[Seq[Any], Seq[Seq[Any]]] = {
    val keyCols = v.joinKeys.map(_._2)
    val src = v.predicate.fold(v.source)(p => v.source.filter(p))
    val viewRows = src.select((keyCols ++ Seq(v.tsCol) ++ v.createdTs ++ v.features)
        .map(c => col(c)): _*).collect().toSeq
      .map(r => (r.toSeq.take(keyCols.size), r.toSeq.drop(keyCols.size)))
      .filter(_._1.forall(_ != null))
      .groupBy(_._1).map { case (k, rs) => k -> rs.map(_._2) }
    val nCreated = v.createdTs.size
    val window = v.ttlSeconds.filter(_ > 0).map(_ * 1000000L)
    val tsAt = entity.columns.indexOf(entityTs)
    val keyAt = v.joinKeys.map(k => entity.columns.indexOf(k._1))
    // keys compare as numbers across integral types (an Int entity key
    // equals a Long view key of the same value, as under `===`)
    def norm(k: Any): Any = k match { case i: Int => i.toLong; case x => x }
    val byKey = viewRows.map { case (k, rs) => k.map(norm) -> rs }
    entity.collect().toSeq.map(_.toSeq).distinct.flatMap { e =>
      val ets = Option(e(tsAt)).map(micros)
      val cands = (for (t <- ets.toSeq; row <- byKey.getOrElse(keyAt.map(i => norm(e(i))), Nil)
          if row.head != null) yield {
          val d = micros(row.head) - t
          val admitted = dir match {
            case Backward => d <= 0 && window.forall(-d <= _)
            case Forward  => d >= 0 && d <= window.get
            case Nearest  => math.abs(d) <= window.get
          }
          val key: Seq[Any] = dir match {
            case Backward => row.take(1 + nCreated)
            case Forward  => row.take(1)
            case Nearest  => Seq(math.abs(d), row.head)
          }
          if (admitted) Some((key, row.drop(1 + nCreated))) else None
        }).flatten
        if (cands.isEmpty) None
        else {
          // backward picks the greatest key, the others the least; the
          // features break remaining ties when they are comparable
          def sign(a: Seq[Any], b: Seq[Any]) =
            if (dir == Backward) compare(a, b) else compare(b, a)
          val bestKey = cands.map(_._1).reduce((a, b) => if (sign(a, b) >= 0) a else b)
          val tied = cands.filter(c => compare(c._1, bestKey) == 0).map(_._2)
          val best =
            if (!tied.forall(_.forall(orderable))) tied
            else {
              val top = tied.reduce((a, b) => if (sign(a, b) >= 0) a else b)
              tied.filter(compare(_, top) == 0)
            }
          Some(e -> best)
        }
      }.toMap
  }

  /** Asserts `out` holds exactly one row per entity row (duplicates
    * included: the spine's leading columns, as a multiset, are the
    * entity's rows), with each view's features (under
    * [[ResolvedView.outName]]) equal to an oracle winner for that
    * row, or NULL where the oracle admits none. */
  def check(out: DataFrame, entity: DataFrame, entityTs: String,
      views: Seq[ResolvedView], dir: Direction = Backward): Unit = {
    val n = entity.columns.length
    val rows = out.collect().toSeq
    def counts(xs: Seq[Seq[Any]]) = xs.groupBy(identity).map { case (k, v) => k -> v.size }
    val want = entity.collect().toSeq.map(_.toSeq)
    assert(counts(rows.map(_.toSeq.take(n))) == counts(want),
      s"expected one output row per entity row (${want.size}), got ${rows.size}")
    views.foreach { v =>
      val ws = winners(entity, entityTs, v, dir)
      rows.foreach { r =>
        val e = r.toSeq.take(n)
        val feats = v.features.map(f => r.getAs[Any](v.outName(f)))
        val ok = ws.get(e) match {
          case None => feats.forall(_ == null)
          case Some(w) => w.contains(feats)
        }
        assert(ok, s"view ${v.name}, entity row $e: got $feats, oracle ${ws.get(e)}")
      }
    }
  }

  def micros(x: Any): Long = x match {
    case t: java.sql.Timestamp =>
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
    case d: java.sql.Date => d.toLocalDate.toEpochDay * 86400L * 1000000L
    case i: java.time.Instant => i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  private def orderable(x: Any): Boolean = x match {
    case _: scala.collection.Map[_, _] => false
    case _ => true
  }

  private def compare(a: Seq[Any], b: Seq[Any]): Int =
    a.iterator.zip(b.iterator).map { case (x, y) => compareOne(x, y) }
      .find(_ != 0).getOrElse(0)

  private def compareOne(x: Any, y: Any): Int = (x, y) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (p: Comparable[Any] @unchecked, q) => p.compareTo(q)
  }
}
