package graft.store

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths => JPaths, StandardOpenOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Dates, Json}
import graft.model.AlertDoc
import graft.model.AlertDoc.Doc

/** Alert persistence — the reference's Mongo `alerts` /
  * `inflight_alerts` collections (alerta.py:76-111) become JSON-lines
  * datasets: alert documents are driver-scale (bounded by the per-rule
  * LIMIT), while the *queries* against them — the dedup anti-joins over
  * millions of candidate events — run in Spark via [[AlertStore.alertedEventIds]].
  *
  * Docs carry the reference envelope: a 24-hex `_id` (alerta.py:31-35),
  * ISO `utctimestamp`, and the `utcepoch` sort key (alerta.py:86-88).
  */
object Ids {
  private val rnd = new java.security.SecureRandom()
  /** meteor-style 24-hex id. */
  def meteorId(): String = {
    val bytes = new Array[Byte](12)
    rnd.nextBytes(bytes)
    bytes.map("%02x".format(_)).mkString
  }
}

private[store] trait JsonlFile {
  protected def file: java.nio.file.Path

  protected def readAll(): Seq[Doc] =
    if (!Files.exists(file)) Seq.empty
    else Files.readAllLines(file, StandardCharsets.UTF_8).asScala.toSeq
      .filter(_.nonEmpty).flatMap(l => Json.parse(l).collect { case m: Map[_, _] =>
        m.asInstanceOf[Doc]
      })

  protected def appendLine(doc: Doc): Unit = {
    Files.createDirectories(file.getParent)
    Files.write(file, (Json.write(doc) + "\n").getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  protected def rewrite(docs: Seq[Doc]): Unit = {
    Files.createDirectories(file.getParent)
    Files.write(file, docs.map(Json.write).mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
  }
}

/** Final alerts sink (S8) + the alerted-event-id view used by the A2
  * anti-join.
  */
class AlertStore(dir: String) extends JsonlFile {
  protected val file: java.nio.file.Path = JPaths.get(dir, "alerts.jsonl")

  // The append-only file is read once at open; saves update the cache
  // in place — alertedEventIds would otherwise re-read and re-parse a
  // forever-growing file once per spec per run. The id set of each id
  // field asked for is built once from the docs, then grown per save.
  private var docs: Vector[Doc] = readAll().toVector
  private val idSets = mutable.Map.empty[String, mutable.LinkedHashSet[String]]

  /** save_alert (alerta.py:76-89): stamp _id, normalized timestamp,
    * utcepoch; append.
    */
  def save(alert: Doc): Doc = {
    val ts = Dates.toUTC(AlertDoc.str(alert, "utctimestamp", Dates.iso(Dates.utcnow())))
    val doc = alert ++ Map(
      "_id" -> Ids.meteorId(),
      "utctimestamp" -> Dates.iso(ts),
      "utcepoch" -> ts.getEpochSecond)
    appendLine(doc)
    docs = docs :+ doc
    idSets.foreach { case (field, ids) =>
      ids ++= StoreIds.idsOf(doc, field, includeTopLevel = true)
    }
    doc
  }

  def all(): Seq[Doc] = docs

  /** Every eventid present in stored alerts, at both nesting depths:
    * `events[].eventid` and `slots[].events[].eventid`
    * (alerta.py:47-54). Returned as a DataFrame so the dedup
    * anti-join stays distributed; the id set is small → callers
    * broadcast it against the event scan.
    */
  def alertedEventIds(spark: SparkSession, idField: String = "eventid"): DataFrame = {
    import spark.implicits._
    idSets.getOrElseUpdate(idField, mutable.LinkedHashSet.from(
      docs.iterator.flatMap(StoreIds.idsOf(_, idField, includeTopLevel = true))))
      .toSeq.toDF(idField)
  }
}

/** Inflight sequence state (S9/S10/S12): upsert by `_id`, scan in
  * utcepoch-descending order, delete on completion/expiry. State is
  * driver-scale; the file is the batch-mode equivalent of the
  * streaming `transformWithState` store.
  */
class InflightStore(dir: String) extends JsonlFile {
  protected val file: java.nio.file.Path = JPaths.get(dir, "inflight.jsonl")

  private var docs: Vector[Doc] = readAll().toVector

  /** save_inflight_alert (alerta.py:92-111): replace-or-insert. */
  def save(alert: Doc): Doc = {
    val ts = Dates.toUTC(AlertDoc.str(alert, "utctimestamp", Dates.iso(Dates.utcnow())))
    val stamped = alert ++ Map(
      "utctimestamp" -> Dates.iso(ts),
      "utcepoch" -> ts.getEpochSecond)
    val doc = stamped.get("_id").filter(_ != null) match {
      case Some(id) =>
        docs = docs.filterNot(_.get("_id").contains(id)) :+ stamped
        stamped
      case None =>
        val withId = stamped + ("_id" -> Ids.meteorId())
        docs = docs :+ withId
        withId
    }
    rewrite(docs)
    doc
  }

  /** Scan sorted by utcepoch descending (alerta.py:213,223,245). */
  def all(): Seq[Doc] = docs.sortBy(d => -AlertDoc.long(d, "utcepoch", 0L))

  def delete(id: String): Unit = {
    docs = docs.filterNot(_.get("_id").contains(id))
    rewrite(docs)
  }

  def count: Int = docs.size

  /** Ids already captured in inflight slots (alerta.py:60-73) — note:
    * slots only, not top-level events.
    */
  def inflightEventIds(spark: SparkSession, idField: String = "eventid"): DataFrame = {
    import spark.implicits._
    docs.flatMap(StoreIds.idsOf(_, idField, includeTopLevel = false)).distinct.toDF(idField)
  }
}

/** Event ids are extracted from alert docs driver-side and
  * parallelized: the docs are bounded, and this avoids Spark JSON
  * schema inference over heterogeneous alert files. The *join* against
  * candidate events is what must scale, and it receives the ids as a
  * broadcast.
  */
private object StoreIds {
  /** The event ids of one alert doc, at `events[]` (when
    * `includeTopLevel`) and `slots[].events[]` (alerta.py:47-54).
    */
  def idsOf(doc: Doc, idField: String, includeTopLevel: Boolean): Seq[String] = {
    def ids(events: Seq[Any]): Seq[String] = events.collect {
      case m: Map[_, _] =>
        m.asInstanceOf[Doc].get(idField).filter(_ != null).map(_.toString)
    }.flatten
    val top = if (includeTopLevel) ids(AlertDoc.seq(doc, "events")) else Seq.empty
    top ++ AlertDoc.docs(doc, "slots").flatMap(s => ids(AlertDoc.seq(s, "events")))
  }
}
