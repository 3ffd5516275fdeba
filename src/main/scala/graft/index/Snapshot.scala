package graft.index

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Snapshot manifest for an index generation.
  *
  * Plays the role of the reference's blue/green alias swap
  * (datastore/elastic_search/transfer.py:17-123 + the alias at
  * datastore/datastore.py:152-185): readers resolve `meta/current` → vN,
  * writers build generation N+1 in fresh directories and atomically move the
  * pointer. Shaped like an Iceberg snapshot (metadata JSON + pointer file) so
  * a real catalog could replace it; no Iceberg jar ships in this sandbox.
  */
final case class SnapshotMeta(
    version: Int,
    numDocs: Long,
    avgDocLen: Double,
    numBuckets: Int,
    saltThreshold: Long,
    maxSalts: Int,
    k1: Double,
    b: Double,
    corpusFingerprint: Long,
    hotTerms: Map[String, Int],
    formatVersion: Int = Snapshot.CurrentFormatVersion,
    /** Generations whose docs/segments this snapshot layers on top of
      * (Iceberg-manifest-style union) — the DELTA build chain. Empty for a
      * full build. The dict is always rewritten whole (it is |vocab|-sized),
      * so only docs/segments/lineage union across generations.
      */
    baseVersions: Seq[Int] = Nil,
    /** Totals across ALL contributing generations, recorded at build time
      * so readers can pick their serving tier WITHOUT a Spark job (the
      * open-time lineage probe was the whole cold-open cost). -1 = not
      * recorded (older manifest) → readers fall back to the probe.
      */
    sizedShards: Long = -1L,
    sizedPostingBytes: Long = -1L,
    /** Analyzer name the index was built with (Analyzers registry); readers
      * MUST analyze queries with the same name. Older manifests default to
      * `standard` — exactly what they were built with.
      */
    analyzer: String = "standard") {

  def docsDir(indexDir: String) = s"$indexDir/v$version/docs"
  def segmentsDir(indexDir: String) = s"$indexDir/v$version/segments"
  def dictDir(indexDir: String) = s"$indexDir/v$version/dict"
  def lineageDir(indexDir: String) = s"$indexDir/v$version/lineage"

  /** All generations contributing rows, oldest first. */
  def allVersions: Seq[Int] = baseVersions :+ version
  def docsDirs(indexDir: String): Seq[String] =
    allVersions.map(v => s"$indexDir/v$v/docs")
  def segmentsDirs(indexDir: String): Seq[String] =
    allVersions.map(v => s"$indexDir/v$v/segments")
  def lineageDirs(indexDir: String): Seq[String] =
    allVersions.map(v => s"$indexDir/v$v/lineage")

  def toJson: String = {
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val hot = hotTerms.toSeq.sortBy(_._1)
      .map { case (t, s) => s"${q(t)}:$s" }.mkString("{", ",", "}")
    val bases = baseVersions.mkString("[", ",", "]")
    s"""{"version":$version,"formatVersion":$formatVersion,""" +
      s""""numDocs":$numDocs,"avgDocLen":$avgDocLen,""" +
      s""""numBuckets":$numBuckets,"saltThreshold":$saltThreshold,""" +
      s""""maxSalts":$maxSalts,"k1":$k1,"b":$b,""" +
      s""""corpusFingerprint":$corpusFingerprint,""" +
      s""""sizedShards":$sizedShards,"sizedPostingBytes":$sizedPostingBytes,""" +
      s""""analyzer":${q(analyzer)},""" +
      s""""baseVersions":$bases,"hotTerms":$hot}"""
  }
}

object Snapshot {

  /** On-disk format generation: bump when the posting codec, docId scheme,
    * or table schemas change incompatibly; readers of older formats rebuild
    * (buildIfAbsent treats them as absent).
    */
  val CurrentFormatVersion = 3 // v3: posting codec gained the norms slot
                               // (flags + per-posting doclen + block minDoclen)

  /** Refuse a snapshot written in an older on-disk format: decoding it
    * with this code's codec would misread its postings.
    */
  private[graft] def requireCurrentFormat(indexDir: String, meta: SnapshotMeta): Unit =
    require(meta.formatVersion == CurrentFormatVersion,
      s"snapshot at $indexDir has a stale on-disk format " +
        s"(${meta.formatVersion} != $CurrentFormatVersion)" +
        " — rebuild with a full build over the complete corpus")

  private def metaDir(indexDir: String): Path = Paths.get(indexDir, "meta")

  /** The one atomic `current`-pointer swap kernel — shared by the index
    * manifest below and bare table stores (surface.TrainingStore), so
    * crash-safety semantics live in exactly one place.
    */
  private[graft] def swapCurrent(dir: Path, version: Int): Unit = {
    val tmp = dir.resolve("current.tmp")
    Files.write(tmp, s"v$version".getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, dir.resolve("current"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Read a `meta/current` pointer under any store dir. */
  private[graft] def readCurrent(metaDirPath: Path): Option[Int] = {
    val p = metaDirPath.resolve("current")
    if (!Files.exists(p)) None
    else Some(new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      .trim.stripPrefix("v").toInt)
  }

  /** Write vN metadata and atomically swap the `current` pointer. */
  def commit(indexDir: String, meta: SnapshotMeta): Unit = {
    val dir = metaDir(indexDir)
    Files.createDirectories(dir)
    Files.write(dir.resolve(s"v${meta.version}.json"),
      meta.toJson.getBytes(StandardCharsets.UTF_8))
    swapCurrent(dir, meta.version)
  }

  def currentVersion(indexDir: String): Option[Int] =
    readCurrent(metaDir(indexDir))

  def load(indexDir: String): Option[SnapshotMeta] = currentVersion(indexDir).map { v =>
    val p = metaDir(indexDir).resolve(s"v$v.json")
    parse(new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
  }

  /** Minimal JSON parse for our own manifests (flat object + one string→int
    * map). Avoids any external JSON dependency (offline build).
    */
  private[index] def parse(json: String): SnapshotMeta = {
    def fieldOpt(name: String): Option[String] = {
      val key = "\"" + name + "\":"
      if (json.indexOf(key) < 0) None else Some(field(name))
    }
    def field(name: String): String = {
      val key = "\"" + name + "\":"
      val i = json.indexOf(key)
      require(i >= 0, s"missing $name in manifest")
      val start = i + key.length
      var j = start
      var depth = 0
      var inStr = false
      var esc = false
      while (j < json.length && {
        val c = json.charAt(j)
        if (esc) { esc = false; true }
        else if (inStr) { if (c == '\\') esc = true else if (c == '"') inStr = false; true }
        else if (c == '"') { inStr = true; true }
        else if (c == '{' || c == '[') { depth += 1; true }
        else if (c == '}' || c == ']') { if (depth == 0) false else { depth -= 1; true } }
        else !(c == ',' && depth == 0)
      }) j += 1
      json.substring(start, j)
    }
    def unq(s: String): String = {
      val t = s.trim.stripPrefix("\"").stripSuffix("\"")
      val sb = new StringBuilder
      var i = 0
      while (i < t.length) {
        val c = t.charAt(i)
        if (c == '\\' && i + 1 < t.length) {
          t.charAt(i + 1) match {
            case '"' => sb += '"'; i += 2
            case '\\' => sb += '\\'; i += 2
            case 'u' => sb += Integer.parseInt(t.substring(i + 2, i + 6), 16).toChar; i += 6
            case other => sb += other; i += 2
          }
        } else { sb += c; i += 1 }
      }
      sb.toString
    }
    val hotStr = field("hotTerms").trim.stripPrefix("{").stripSuffix("}")
    val hot: Map[String, Int] =
      if (hotStr.isEmpty) Map.empty
      else hotStr.split(",(?=\")").iterator.map { kv =>
        val colon = kv.lastIndexOf(':')
        unq(kv.substring(0, colon)) -> kv.substring(colon + 1).trim.toInt
      }.toMap
    val bases: Seq[Int] = fieldOpt("baseVersions")
      .map(_.trim.stripPrefix("[").stripSuffix("]"))
      .filter(_.nonEmpty)
      .map(_.split(",").toSeq.map(_.trim.toInt))
      .getOrElse(Nil)
    SnapshotMeta(
      version = field("version").trim.toInt,
      numDocs = field("numDocs").trim.toLong,
      avgDocLen = field("avgDocLen").trim.toDouble,
      numBuckets = field("numBuckets").trim.toInt,
      saltThreshold = field("saltThreshold").trim.toLong,
      maxSalts = field("maxSalts").trim.toInt,
      k1 = field("k1").trim.toDouble,
      b = field("b").trim.toDouble,
      corpusFingerprint = field("corpusFingerprint").trim.toLong,
      hotTerms = hot,
      formatVersion = fieldOpt("formatVersion").map(_.trim.toInt).getOrElse(0),
      baseVersions = bases,
      sizedShards = fieldOpt("sizedShards").map(_.trim.toLong).getOrElse(-1L),
      sizedPostingBytes =
        fieldOpt("sizedPostingBytes").map(_.trim.toLong).getOrElse(-1L),
      analyzer = fieldOpt("analyzer").map(unq).getOrElse("standard"))
  }

  /** Garbage-collect generations the CURRENT snapshot does not reference
    * (its delta chain stays whole): after a compaction the old chain is
    * unreachable from `current` and only consumes disk + time-travel
    * ability. Keeps the `keepLast` newest unreferenced versions for
    * in-flight readers / explicit time-travel, deletes the rest — manifest
    * json FIRST (so a crash mid-delete leaves a missing manifest, never a
    * manifest naming missing data), then the version directory. The
    * `current` pointer and every referenced generation are never touched.
    * Retention must respect reader SLAs — a reader still scanning a
    * vacuumed version loses its files (standard GC contract).
    * Returns the deleted versions.
    */
  def vacuum(indexDir: String, keepLast: Int = 1): Seq[Int] = {
    val curOpt = load(indexDir)
    if (curOpt.isEmpty) return Seq.empty
    val referenced = curOpt.get.allVersions.toSet
    val drop = listVersions(indexDir).filterNot(referenced).sorted
      .dropRight(math.max(0, keepLast))
    drop.foreach { v =>
      Files.deleteIfExists(metaDir(indexDir).resolve(s"v$v.json"))
      val dir = Paths.get(indexDir, s"v$v")
      if (Files.exists(dir)) {
        Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.deleteIfExists(p): Unit)
      }
    }
    drop
  }

  def listVersions(indexDir: String): Seq[Int] = {
    val dir = metaDir(indexDir)
    if (!Files.exists(dir)) Seq.empty
    else Files.list(dir).iterator().asScala
      .map(_.getFileName.toString)
      .collect { case s if s.startsWith("v") && s.endsWith(".json") =>
        s.stripPrefix("v").stripSuffix(".json").toInt }
      .toSeq.sorted
  }
}
