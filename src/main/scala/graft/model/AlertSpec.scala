package graft.model

import java.time.Instant

import scala.jdk.CollectionConverters._

import org.yaml.snakeyaml.Yaml

import graft.functions.Dates

/** Alert documents and specs are nested string-keyed maps, exactly as
  * in the reference (YAML → dict → deep-merged shells → Mongo BSON;
  * alerta.py:164-271). A thin typed accessor layer sits on top; the
  * raw map is preserved so user-authored extra keys ride along through
  * shells, inflight state and the final alert — the reference's
  * `merge` contract (utils/dict_helpers.py:5-16).
  */
object AlertDoc {
  type Doc = Map[String, Any]

  /** Recursive deep-merge: `overlay` wins on scalars, maps merge
    * (utils/dict_helpers.py:5-16).
    */
  def merge(base: Doc, overlay: Doc): Doc =
    (base.keySet ++ overlay.keySet).map { k =>
      k -> ((base.get(k), overlay.get(k)) match {
        case (Some(b: Map[_, _]), Some(o: Map[_, _])) =>
          merge(b.asInstanceOf[Doc], o.asInstanceOf[Doc])
        case (_, Some(o)) => o
        case (Some(b), _) => b
        case _            => null
      })
    }.toMap

  def str(doc: Doc, key: String, default: String = ""): String =
    doc.get(key).filter(_ != null).map(_.toString).getOrElse(default)

  def int(doc: Doc, key: String, default: Int): Int =
    doc.get(key).filter(_ != null).map {
      case n: Number => n.intValue
      case s: String => s.toInt
    }.getOrElse(default)

  def long(doc: Doc, key: String, default: Long): Long =
    doc.get(key).filter(_ != null).map {
      case n: Number => n.longValue
      case s: String => s.toLong
    }.getOrElse(default)

  def bool(doc: Doc, key: String, default: Boolean): Boolean =
    doc.get(key).filter(_ != null).map {
      case b: Boolean => b
      case s: String  => s.toBoolean
    }.getOrElse(default)

  // NOTE: matches collection.Seq — Spark hands back mutable.ArraySeq,
  // which is not scala.Seq (immutable) on 2.13.
  def seq(doc: Doc, key: String): Seq[Any] = doc.get(key) match {
    case Some(s: collection.Seq[_]) => s.toSeq
    case _                          => Seq.empty
  }

  def docs(doc: Doc, key: String): Seq[Doc] =
    seq(doc, key).collect { case m: Map[_, _] => m.asInstanceOf[Doc] }

  // --- dict helpers (P2/P4, utils/dict_helpers.py:19-76) -----------------

  /** Project a doc onto keys with a default (sub_dict). */
  def subDict(doc: Doc, keys: Seq[String], default: Any = null): Doc =
    keys.map(k => k -> doc.getOrElse(k, default)).toMap

  /** Does target contain every key/value of query? (dict_match —
    * utils/dict_helpers.py projects onto the query's TOP-LEVEL keys;
    * recursive enumKeys would inject nested keys and break any query
    * holding a nested map)
    */
  def dictMatch(query: Doc, target: Doc): Boolean =
    subDict(target, query.keys.toSeq) == query

  /** All values of `key` anywhere in a nested structure (find_keys). */
  def findKeys(node: Any, key: String): Iterator[Any] = node match {
    case l: collection.Seq[_] => l.iterator.flatMap(findKeys(_, key))
    case m: collection.Map[_, _] =>
      val d = m.asInstanceOf[collection.Map[String, Any]]
      d.get(key).iterator ++ d.valuesIterator.flatMap(findKeys(_, key))
    case _ => Iterator.empty
  }

  /** All leaf values in a nested structure (enum_values). */
  def enumValues(node: Any): Iterator[Any] = node match {
    case l: collection.Seq[_]    => l.iterator.flatMap(enumValues)
    case m: collection.Map[_, _] => m.valuesIterator.flatMap(enumValues)
    case other                   => Iterator.single(other)
  }

  /** All keys in a nested structure, recursive (enum_keys). */
  def enumKeys(node: Any): Iterator[String] = node match {
    case l: collection.Seq[_] => l.iterator.flatMap(enumKeys)
    case m: collection.Map[_, _] =>
      m.asInstanceOf[collection.Map[String, Any]].iterator
        .flatMap { case (k, v) => Iterator.single(k) ++ enumKeys(v) }
    case _ => Iterator.empty
  }
}

/** The three alert-shell constructors — defaults exactly as
  * alerta.py:164-184 (threshold), 187-207 (deadman), 251-271
  * (sequence). Shell values win over params on the shell's own keys
  * (the reference merges the shell as overlay), which means `events`
  * is always reset to empty and threshold/deadman `utctimestamp` is
  * always refreshed to now.
  */
object Shells {
  import AlertDoc._

  def threshold(params: Doc, now: Instant = Dates.utcnow()): Doc =
    merge(params, shellCommon(params, now) ++ Map(
      "alert_type" -> str(params, "alert_type", "threshold"),
      "summary" -> str(params, "summary", "threshold alert!"),
      "event_sample_count" -> int(params, "event_sample_count", 3),
      "category" -> str(params, "category", "general"),
      "tags" -> params.getOrElse("tags", Seq.empty[Any]),
      "threshold" -> int(params, "threshold", 1),
      "aggregation_key" -> str(params, "aggregation_key", "")))

  def deadman(params: Doc, now: Instant = Dates.utcnow()): Doc =
    merge(params, shellCommon(params, now) ++ Map(
      "alert_type" -> str(params, "alert_type", "deadman"),
      "summary" -> str(params, "summary", "deadman alert!"),
      "event_sample_count" -> int(params, "event_sample_count", 0),
      "category" -> str(params, "category", "deadman"),
      "tags" -> params.getOrElse("tags", Seq("deadman")),
      "threshold" -> int(params, "threshold", 0),
      "aggregation_key" -> str(params, "aggregation_key", "none")))

  private def shellCommon(params: Doc, now: Instant): Doc = Map(
    "alert_name" -> str(params, "alert_name", "unnamed"),
    "utctimestamp" -> Dates.iso(now),
    "severity" -> str(params, "severity", "INFO"),
    "event_snippet" -> str(params, "event_snippet", ""),
    "criteria" -> str(params, "criteria", ""),
    "debug" -> bool(params, "debug", default = true),
    "events" -> Seq.empty[Any])

  def sequence(params: Doc, now: Instant = Dates.utcnow()): Doc = {
    val ts = str(params, "utctimestamp", Dates.iso(now))
    val lifespan = str(params, "lifespan", "3 days")
    val expiration = str(params, "expiration",
      Dates.iso(Dates.toUTC(ts).plus(Dates.interval(lifespan))))
    merge(params, Map(
      "alert_name" -> str(params, "alert_name", "unnamed"),
      "alert_type" -> str(params, "alert_type", "sequence"),
      "utctimestamp" -> ts,
      "lifespan" -> lifespan,
      "severity" -> str(params, "severity", "INFO"),
      "summary" -> str(params, "summary", "sequence alert!"),
      "debug" -> bool(params, "debug", default = true),
      "slots" -> params.getOrElse("slots", Seq.empty[Any]),
      "expiration" -> expiration))
  }
}

/** YAML alert-definition source (S6): glob + safe-load + dispatch on
  * `alert_type` (alerta.py:499-506). SnakeYAML ships on the Spark
  * classpath.
  */
object AlertSpecs {
  import AlertDoc.Doc

  def parseYaml(text: String): Doc =
    graft.functions.Json.fromJava(new Yaml().load[Any](text)) match {
      case m: Map[_, _] => m.asInstanceOf[Doc]
      case _            => Map.empty
    }

  def load(path: String): Doc =
    parseYaml(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))))

  /** All specs matching a glob mask like "alerts" + "*.yml". */
  def loadAll(mask: String): Seq[Doc] = {
    val p = java.nio.file.Paths.get(mask)
    val dir = Option(p.getParent).getOrElse(java.nio.file.Paths.get("."))
    val matcher = java.nio.file.FileSystems.getDefault
      .getPathMatcher("glob:" + p.getFileName.toString)
    if (!java.nio.file.Files.isDirectory(dir)) Seq.empty
    else {
      val stream = java.nio.file.Files.list(dir)
      try stream.iterator.asScala.toSeq
        .filter(f => matcher.matches(f.getFileName))
        .sortBy(_.toString)
        .map(f => load(f.toString))
      finally stream.close()
    }
  }
}
