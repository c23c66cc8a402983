package graft.operators

import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.core.json.JsonReadFeature
import com.fasterxml.jackson.databind.DeserializationFeature
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.operators.Versioned.Manifest

/** The record format of a [[Versioned]] table's `_versions` log, read
  * and written with json4s. Two record shapes:
  *   - FULL (`v<n>.json` checkpoints, vacuum's `c<n>.json` sidecars):
  *     `{"version","mode","files","n_rows","committed_at",
  *     "file_rows"?,"file_stats"?,"copies"?,"txn_app"?,"txn_batch"?,
  *     "schema"?,"constraints"?,"mapping"?,"dvs"?}`;
  *   - DELTA: `{"delta":1,"version","parent","parent_hash","mode",
  *     "n_rows","committed_at","add_files"?,"remove_files"?,
  *     "add_file_rows"?,"add_file_stats"?,"dv_set"?,"dv_drop"?,
  *     "copies"?,"txn_app"?,"txn_batch"?,"schema"?,"constraints"?,
  *     "mapping"?}` — the changes against the parent whose exact bytes
  *     `parent_hash` pins.
  * Every array is a flat run of strings: pairs (constraints, mapping,
  * stats), triples (deletion vectors), and counts written as quoted
  * numbers. A per-group stats value is [[GroupStats.toJson]] text.
  * Keys appear in the order above; callers hash the raw bytes, so the
  * writer's output must stay byte-stable.
  *
  * The reader fails closed: a key present with the wrong JSON type, or
  * a record that does not parse, raises `IllegalStateException`. It
  * accepts raw control characters inside strings, which records from
  * before this codec carry unescaped; the writer emits strict JSON. */
private[graft] object ManifestCodec {

  // A reader of its own: the shared JsonMethods.mapper is Spark's too.
  private val reader = JsonMethods.mapper.readerFor(classOf[JValue])
    .`with`(JsonReadFeature.ALLOW_UNESCAPED_CONTROL_CHARS)
    .`with`(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  /** Parse one record; `what` names it in the error. */
  def parse(raw: String, what: => String): JValue =
    try reader.readValue[JValue](raw)
    catch {
      case e: JsonProcessingException => throw new IllegalStateException(
        s"$what is not valid JSON (${e.getOriginalMessage}) — corrupt manifest", e)
    }

  def isDelta(j: JValue): Boolean = j \ "delta" != JNothing

  /** Typed field reads: None = key absent, wrong type = corrupt. */
  private def corrupt(key: String, x: JValue): Nothing = throw new IllegalStateException(
    s"manifest key '$key' holds ${x.getClass.getSimpleName} — corrupt manifest")
  private def field[A](j: JValue, key: String)(pf: PartialFunction[JValue, A]): Option[A] =
    j \ key match {
      case JNothing => None
      case x => Some(pf.applyOrElse(x, corrupt(key, _: JValue)))
    }
  private def str(j: JValue, key: String) = field(j, key) { case JString(s) => s }
  private def num(j: JValue, key: String) =
    field(j, key) { case JInt(i) => i.toLong; case JLong(l) => l }
  private def strs(j: JValue, key: String): Option[Seq[String]] = field(j, key) {
    case JArray(xs) => xs.map { case JString(s) => s; case x => corrupt(key, x) }
  }
  /** A flat array read back as `n`-tuples; a ragged tail is corrupt. */
  private def tuples(j: JValue, key: String, n: Int): Option[Seq[Seq[String]]] =
    strs(j, key).map { xs =>
      if (xs.size % n != 0) throw new IllegalStateException(
        s"manifest array '$key' has ${xs.size} entries, not a multiple of $n — corrupt manifest")
      xs.grouped(n).toSeq
    }
  private def pairs(j: JValue, key: String) = tuples(j, key, 2).map(_.map(t => (t(0), t(1))))
  private def dvTriples(j: JValue, key: String) =
    tuples(j, key, 3).map(_.map(t => (t(0), t(1), t(2).toLong)))

  /** The delta record's (parent version, parent hash). */
  def parentRef(j: JValue, what: => String): (Long, Long) = (
    num(j, "parent").getOrElse(throw new IllegalStateException(
      s"delta $what has no parent — corrupt")),
    str(j, "parent_hash").map(_.toLong).getOrElse(throw new IllegalStateException(
      s"delta $what has no parent_hash — corrupt")))

  /** The per-version fields both shapes carry over `base`: mode,
    * n_rows, committed_at, txn and copies belong to this version alone;
    * schema, constraints and mapping inherit from `base` when absent
    * (an EMPTY array is "changed to empty"). */
  private def perVersion(j: JValue, base: Manifest): Manifest = base.copy(
    nRows = num(j, "n_rows").getOrElse(0L),
    mode = str(j, "mode").getOrElse(""),
    committedAt = str(j, "committed_at").getOrElse(""),
    txn = for (app <- str(j, "txn_app"); b <- num(j, "txn_batch")) yield (app, b),
    copies = strs(j, "copies").getOrElse(Seq.empty),
    schemaDdl = str(j, "schema").orElse(base.schemaDdl),
    constraints = pairs(j, "constraints").getOrElse(base.constraints),
    mapping = pairs(j, "mapping").getOrElse(base.mapping))

  /** A full record's state. `file_rows` is absent in pre-upgrade
    * records; a length that does not match `files` is corruption. */
  def decodeFull(j: JValue, what: => String): Manifest = {
    val files = strs(j, "files").getOrElse(Seq.empty)
    val fileRows = strs(j, "file_rows") match {
      case None => Map.empty[String, Long]
      case Some(rows) =>
        if (rows.size != files.size) throw new IllegalStateException(
          s"$what: file_rows has ${rows.size} entries for ${files.size} " +
            "files — corrupt manifest")
        files.zip(rows.map(_.toLong)).toMap
    }
    perVersion(j, Manifest(files, 0L, "", "",
      dvs = dvTriples(j, "dvs").getOrElse(Seq.empty),
      fileRows = fileRows,
      fileStats = pairs(j, "file_stats").map(_.toMap).getOrElse(Map.empty)))
  }

  /** A delta record's state folded over its resolved parent: files,
    * deletion vectors, row counts and stats fold; the per-version
    * fields come from the record. Row counts stay complete only when
    * the parent covers every carried group and the record aligns a
    * count with every added group — otherwise empty, the pre-upgrade
    * reading. */
  def foldDelta(parent: Manifest, j: JValue): Manifest = {
    val removed = strs(j, "remove_files").getOrElse(Seq.empty).toSet
    val added = strs(j, "add_files").getOrElse(Seq.empty)
    val files = parent.files.filterNot(removed) ++ added
    val dvDrop = strs(j, "dv_drop").getOrElse(Seq.empty).toSet
    val dvSet = dvTriples(j, "dv_set").getOrElse(Seq.empty)
    val dvSetG = dvSet.map(_._1).toSet
    val dvs = parent.dvs.filterNot(d =>
      dvDrop(d._1) || dvSetG(d._1) || removed(d._1)) ++ dvSet
    val addRows = strs(j, "add_file_rows").getOrElse(Seq.empty).map(_.toLong)
    val addedSet = added.toSet
    val carriedRows = parent.fileRows.filter { case (g, _) => !removed(g) }
    val fileRows =
      if (addRows.size == added.size &&
          files.forall(g => carriedRows.contains(g) || addedSet(g)))
        carriedRows ++ added.zip(addRows)
      else Map.empty[String, Long]
    val fileStats = parent.fileStats.filter { case (g, _) => !removed(g) } ++
      pairs(j, "add_file_stats").getOrElse(Seq.empty)
    perVersion(j, parent.copy(files = files, dvs = dvs, fileRows = fileRows,
      fileStats = fileStats))
  }

  /** The advisory `_last_checkpoint` pointer's version. */
  def decodeLastCheckpoint(raw: String): Option[Long] =
    num(parse(raw, "_last_checkpoint"), "version")

  private def arr(xs: Seq[String]): JValue = JArray(xs.map(JString(_)).toList)
  private def opt(key: String, xs: Seq[String]): List[JField] =
    if (xs.isEmpty) Nil else List(key -> arr(xs))
  private def flatPairs(ps: Seq[(String, String)]) =
    ps.flatMap { case (a, b) => Seq(a, b) }
  private def flatDvs(dvs: Seq[(String, String, Long)]) =
    dvs.flatMap { case (g, a, c) => Seq(g, a, c.toString) }
  /** Row counts of `groups`, written only when every group of `m` has
    * one (the fold reads a partial list as "no counts"). */
  private def rowsArr(key: String, m: Manifest, groups: Seq[String]): List[JField] =
    if (m.files.forall(m.fileRows.contains))
      List(key -> arr(groups.map(m.fileRows(_).toString)))
    else Nil
  /** Stats pairs sorted by group, for deterministic bytes. */
  private def statsArr(key: String, stats: Map[String, String]): List[JField] =
    opt(key, flatPairs(stats.toSeq.sortBy(_._1)))

  /** Render one record, placing `m`'s per-version fields around each
    * shape's own: `head` before mode, `files` between mode and n_rows,
    * `changes` after committed_at, `tail` last. */
  private def record(
      head: List[JField], m: Manifest, files: List[JField], changes: List[JField],
      schemaDdl: Option[String], constraints: Option[Seq[(String, String)]],
      mapping: Option[Seq[(String, String)]], tail: List[JField]): String =
    JsonMethods.compact(JsonMethods.render(JObject(
      head ++ (("mode" -> JString(m.mode)) :: files) ++
        List("n_rows" -> JLong(m.nRows), "committed_at" -> JString(m.committedAt)) ++
        changes ++ opt("copies", m.copies) ++
        m.txn.toList.flatMap { case (app, b) =>
          List("txn_app" -> JString(app), "txn_batch" -> JLong(b)) } ++
        schemaDdl.map(d => "schema" -> JString(d)) ++
        constraints.map(cs => "constraints" -> arr(flatPairs(cs))) ++
        mapping.map(ms => "mapping" -> arr(flatPairs(ms))) ++ tail)))

  /** `m` as a standalone FULL record at version `v`. */
  def encodeFull(v: Long, m: Manifest): String =
    record(List("version" -> JLong(v)), m,
      List("files" -> arr(m.files)),
      rowsArr("file_rows", m, m.files) ++ statsArr("file_stats", m.fileStats),
      m.schemaDdl,
      Some(m.constraints).filter(_.nonEmpty), Some(m.mapping).filter(_.nonEmpty),
      opt("dvs", flatDvs(m.dvs)))

  /** `next` as a DELTA record against `parent` (version `v - 1`, record
    * hash `parentHash`). The caller checks that the fold reproduces
    * `next`: same file order, row-count coverage kept, no schema
    * cleared. Schema, constraints and mapping are written only when
    * they changed. */
  def encodeDelta(v: Long, parentHash: Long, parent: Manifest, next: Manifest): String = {
    val parentSet = parent.files.toSet
    val added = next.files.filterNot(parentSet)
    val removed = parent.files.filterNot(next.files.toSet)
    val removedSet = removed.toSet
    val pdv = parent.dvs.map(d => d._1 -> d).toMap
    val ndv = next.dvs.map(_._1).toSet
    record(
      List("delta" -> JInt(1), "version" -> JLong(v), "parent" -> JLong(v - 1),
        "parent_hash" -> JString(parentHash.toString)),
      next, Nil,
      opt("add_files", added) ++ opt("remove_files", removed) ++
        rowsArr("add_file_rows", next, added) ++
        statsArr("add_file_stats", next.fileStats.filter { case (g, _) => !parentSet(g) }) ++
        opt("dv_set", flatDvs(next.dvs.filterNot(d => pdv.get(d._1).contains(d)))) ++
        opt("dv_drop", parent.dvs.map(_._1).filter(g => !ndv(g) && !removedSet(g))),
      if (next.schemaDdl == parent.schemaDdl) None else next.schemaDdl,
      Some(next.constraints).filter(_ != parent.constraints),
      Some(next.mapping).filter(_ != parent.mapping),
      Nil)
  }

  def encodeLastCheckpoint(v: Long): String =
    JsonMethods.compact(JsonMethods.render(JObject("version" -> JLong(v))))
}
