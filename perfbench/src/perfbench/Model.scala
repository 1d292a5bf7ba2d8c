package perfbench

import scala.collection.mutable
import Gen._

/** Sequential reference model of the mirror a webhook stream must
  * produce, written from the sync contract rather than from the engine:
  *
  *   - a delivery applies only if its `created` is strictly newer than
  *     the stored row's (equal never wins across batches);
  *   - within one batch, equal `created` versions of a key resolve to
  *     the larger event id;
  *   - per batch, plain upserts land before `customer.deleted` soft
  *     deletes (`deleted = true`, other columns null), which land before
  *     hard deletes (row removed, no timestamp check);
  *   - rows a backfill scan wrote carry the scan's wall clock; every
  *     generated event time is later than any wall clock of the run
  *     (`Gen.T0`), so events beat it;
  *   - a subscription delivery upserts its items and flags every stored
  *     live item of the batch's subscriptions that no delivery of the
  *     batch lists as vanished: `deleted = true` stamped with the merge's
  *     wall clock, through the same guard, so the flag lands on items a
  *     backfill wrote and loses to items an event wrote;
  *   - with event-id dedup on, an event id seen in an earlier batch is
  *     dropped before any of the above;
  *   - a batch holding any unroutable or malformed delivery (after
  *     dedup) quarantines every such delivery of its raw input.
  *
  * Plain Scala, no Spark: the benchmark compares the engine's final
  * mirror with this fold row by row. */
final class Model(dedupEventIds: Boolean) {
  import Model._

  val tables = mutable.HashMap.empty[String, mutable.HashMap[String, Row]]
  /** subscription item id -> (subscription id, row) */
  val items = mutable.HashMap.empty[String, (String, Row)]
  var quarantined = 0L
  private val seen = mutable.HashSet.empty[String]

  def table(t: String): mutable.HashMap[String, Row] =
    tables.getOrElseUpdate(t, mutable.HashMap.empty)

  /** A row a backfill scan wrote before the stream. */
  def backfilled(o: Obj): Unit =
    if (o.table == "subscription_items") items(o.id) = (o.parent, Row(Backfilled, false))
    else table(o.table)(o.id) = Row(Backfilled, false)

  private def guarded(t: mutable.HashMap[String, Row], id: String, r: Row): Unit =
    if (t.get(id).forall(_.ts < r.ts)) t(id) = r

  /** The winning delivery per entity within one batch. */
  private def latest(ds: Seq[Delivery]): Iterable[Delivery] =
    ds.groupBy(_.entityId).values.map(_.maxBy(d => (d.created, d.eventId)))

  def applyBatch(raw: Seq[Delivery]): Unit = {
    val fresh =
      if (!dedupEventIds) raw
      else raw.filter(d => d.eventId == null || !seen(d.eventId))
    def bad(d: Delivery) = d.kind == Unrouted || d.kind == Malformed
    if (fresh.exists(bad)) quarantined += raw.count(bad)

    val upserts = fresh.filter(_.kind == Upsert)
    upserts.groupBy(_.table).foreach { case (t, ds) =>
      latest(ds).foreach(d => guarded(table(t), d.entityId, Row(d.created, false)))
    }
    val subEvents = upserts.filter(_.table == "subscriptions")
    if (subEvents.exists(_.items.nonEmpty)) {
      val incomingSubs = subEvents.filter(_.items.nonEmpty).map(_.entityId).toSet
      val incomingItems = subEvents.flatMap(_.items).toSet
      val vanished = items.collect {
        case (id, (sub, row)) if incomingSubs(sub) && !row.deleted && !incomingItems(id) => id
      }.toSeq
      // item rows carry their delivery's created; no event-id tie-break
      // is needed because every version of an item row is live
      subEvents.flatMap(d => d.items.map(_ -> d)).groupBy(_._1).foreach {
        case (id, vs) =>
          val d = vs.map(_._2).maxBy(_.created)
          if (items.get(id).forall(_._2.ts < d.created))
            items(id) = (d.entityId, Row(d.created, false))
      }
      vanished.foreach { id =>
        val (sub, row) = items(id)
        if (row.ts < WallClock) items(id) = (sub, Row(WallClock, true))
      }
    }
    fresh.filter(_.kind == SoftDelete).groupBy(_.table).foreach { case (t, ds) =>
      latest(ds).foreach(d => guarded(table(t), d.entityId, Row(d.created, true)))
    }
    fresh.filter(_.kind == HardDelete).foreach(d => table(d.table).remove(d.entityId))
    if (dedupEventIds) fresh.foreach(d => if (d.eventId != null) seen += d.eventId)
  }
}

object Model {
  /** ts is an event's epoch seconds, or one of the two wall-clock marks:
    * a backfill stamps the scan's time, a vanished item the later
    * merge's; both are older than every generated event. */
  final case class Row(ts: Long, deleted: Boolean)
  val Backfilled = -2L
  val WallClock = -1L
}
