package graft.join

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import PointInTimeJoin.{Backward, Direction, Forward, Nearest}

/** Naive in-memory as-of oracle for the join specs: collects the entity
  * frame and every view's rows, and for each entity row scans that
  * key's view rows — no Spark join, aggregate or window. Timestamps
  * compare in microseconds; NULLs order first, as in Spark structs.
  *
  * A view's `ttlSeconds` is its window in every direction (the
  * [[PointInTimeJoin.asOf]] contract): the TTL backward (None/0 =
  * unbounded), the horizon forward, the tolerance for nearest. */
object AsOfOracle {

  /** Entity id → every admissible winner of `v` (several only when rows
    * tie on the whole order key), each as its feature values. Entity
    * rows without an admissible view row are absent. */
  def winners(entity: DataFrame, idCol: String, entityTs: String,
      v: ResolvedView, dir: Direction): Map[Any, Seq[Seq[Any]]] = {
    val keyCols = v.joinKeys.map(_._2)
    val src = v.predicate.fold(v.source)(p => v.source.filter(p))
    val viewRows = src.select((keyCols ++ Seq(v.tsCol) ++ v.createdTs ++ v.features)
        .map(c => col(c)): _*).collect().toSeq
      .map(r => (r.toSeq.take(keyCols.size), r.toSeq.drop(keyCols.size)))
      .filter(_._1.forall(_ != null))
      .groupBy(_._1).map { case (k, rs) => k -> rs.map(_._2) }
    val nCreated = v.createdTs.size
    val window = v.ttlSeconds.filter(_ > 0).map(_ * 1000000L)
    entity.select((idCol +: entityTs +: v.joinKeys.map(_._1)).map(c => col(c)): _*)
      .collect().toSeq.flatMap { e =>
        val ets = Option(e.get(1)).map(micros)
        val cands = (for (t <- ets.toSeq; row <- viewRows.getOrElse(e.toSeq.drop(2), Nil)
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
          Some(e.get(0) -> best)
        }
      }.toMap
  }

  /** Asserts `out` holds exactly one row per entity row, with each
    * view's features (under [[ResolvedView.outName]]) equal to an
    * oracle winner, or NULL where the oracle admits none. */
  def check(out: DataFrame, entity: DataFrame, idCol: String,
      entityTs: String, views: Seq[ResolvedView], dir: Direction = Backward): Unit = {
    val got: Map[Any, Row] = out.collect().map(r => r.getAs[Any](idCol) -> r).toMap
    val n = entity.count()
    assert(out.count() == n && got.size == n,
      s"expected one output row per entity row ($n), got ${out.count()}")
    views.foreach { v =>
      val want = winners(entity, idCol, entityTs, v, dir)
      got.foreach { case (id, r) =>
        val feats = v.features.map(f => r.getAs[Any](v.outName(f)))
        val ok = want.get(id) match {
          case None => feats.forall(_ == null)
          case Some(ws) => ws.contains(feats)
        }
        assert(ok, s"view ${v.name}, $idCol=$id: got $feats, oracle ${want.get(id)}")
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
