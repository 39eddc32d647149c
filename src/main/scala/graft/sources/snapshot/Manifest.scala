package graft.sources

import org.apache.spark.sql.types.{DataType, StructType}

/** One version of a snapshot log, parsed: its data-file list plus every
  * piece of table state the version records. [[Manifest.parse]] and
  * [[serialize]] are the only reader and writer of the on-disk line
  * grammar — header lines, then one absolute data-file path per line:
  * {{{
  *   #batch=<id>                  the stream batch this version ingested
  *   #lastbatch=<id>              replay high-water mark carried forward
  *   #schema=<json>               table schema (Spark StructType json)
  *   #colmap=<l>:<p>\t…           logical→physical column renames
  *   #dropped=<p>\t…              burned physical names (dropped columns)
  *   #tblprop=<k>:<v>\t…          table properties
  *   #check=<name>=<sql>          one per CHECK constraint, in order
  *   #dv=<name>                   deletion-vector sidecar under _log/dv/
  *   #cdf=1                       this commit recorded its row changes…
  *   #changefile=<path>           …in these change files
  *   #partition=<c>,<c>…          declared partition columns
  *   #filepart=<path>\t<c>=<v>…   one per file: its partition tuple
  *   #filestat=<path>\t<entry>…   one per file: its zone-map stats
  * }}}
  * Names and values inside the tab lists are [[Manifest.esc]]-escaped.
  * A header that appears twice keeps its first occurrence; unknown
  * headers are ignored. Per-file state is written only for files the
  * version lists, so a successor that drops files drops their stats and
  * tuples with them.
  *
  * Verbs read the version they build on ONCE per attempt and derive the
  * next one as `prev.next.copy(...)`: table metadata (schema, column
  * mapping, properties, checks, layout, deletion vector, stats) carries
  * unless the verb changes it; the per-commit fields (batch, change
  * files) reset. Schema JSON and per-file stats decode lazily, so a
  * caller that wants only `files` pays for neither. */
private[graft] final case class Manifest(
    files: Seq[String] = Seq.empty,
    schemaJson: Option[String] = None,
    colmap: Map[String, String] = Map.empty,
    dropped: Set[String] = Set.empty,
    tblprops: Map[String, String] = Map.empty,
    checks: Seq[(String, String)] = Seq.empty,
    dv: Option[String] = None,
    partitionCols: Seq[String] = Seq.empty,
    fileParts: Map[String, Map[String, String]] = Map.empty,
    /** Per-file stat entries as recorded (path → tab-joined entries);
      * [[stats]] decodes them. */
    rawStats: Map[String, String] = Map.empty,
    changeFiles: Option[Seq[String]] = None,
    batch: Option[Long] = None,
    watermark: Option[Long] = None) {

  lazy val schema: Option[StructType] =
    schemaJson.map(DataType.fromJson(_).asInstanceOf[StructType])

  /** Per-file zone maps under PHYSICAL column names (what the files
    * carry). */
  lazy val stats: Map[String, Map[String, ColStat]] =
    rawStats.map { case (p, t) => p -> Manifest.decodeStats(t) }

  /** [[stats]] under this version's LOGICAL names — what every pruning
    * consumer keys by: renamed columns' stats follow the rename, burned
    * columns' stats drop (a stale stat attributed to a re-used name
    * would prune wrongly), untouched names pass through. */
  lazy val logicalStats: Map[String, Map[String, ColStat]] =
    if (colmap.isEmpty && dropped.isEmpty) stats
    else {
      val inv = colmap.map(_.swap) // physical → logical (owners are unique)
      stats.map { case (p, st) =>
        p -> st.flatMap { case (c, s) =>
          inv.get(c) match {
            case Some(l)                     => Some(l -> s)
            case None if dropped.contains(c) => None
            case None                        => Some(c -> s)
          }
        }
      }
    }

  def withSchema(s: StructType): Manifest = copy(schemaJson = Some(s.json))

  /** The newest batch id committed anywhere in the log as of this
    * version — the replay guard's high-water mark. Exact from the latest
    * manifest alone: every commit stamps it (a batch commit its own
    * `#batch=`, which the guard proved is above the previous mark; every
    * other commit `#lastbatch=`), so it never moves backwards. */
  def mark: Option[Long] = (batch ++ watermark).maxOption

  /** The base of a non-batch successor: everything carries, the change
    * files reset, the replay mark is stamped. */
  def next: Manifest = copy(changeFiles = None, batch = None, watermark = mark)

  /** The base of the successor that ingests stream batch `b` (the caller
    * has checked `b` is above [[mark]]). */
  def nextBatch(b: Long): Manifest =
    copy(changeFiles = None, batch = Some(b), watermark = None)

  /** A full replace: `newFiles` under `s`, with the per-file state
    * (stats, partition layout, deletion vector) re-decided; table
    * metadata (mapping, properties, checks) carries. */
  def replace(newFiles: Seq[String], s: StructType): Manifest =
    withSchema(s).copy(files = newFiles, dv = None,
      partitionCols = Seq.empty, fileParts = Map.empty, rawStats = Map.empty)

  def serialize: Array[Byte] = {
    import Manifest.esc
    def pairs(m: Map[String, String]) = m.toSeq.sorted
      .map { case (k, v) => s"${esc(k)}:${esc(v)}" }.mkString("\t")
    val out = Seq.newBuilder[String]
    batch.foreach(b => out += s"#batch=$b")
    watermark.foreach(b => out += s"#lastbatch=$b")
    schemaJson.foreach(j => out += s"#schema=$j")
    if (colmap.nonEmpty) out += "#colmap=" + pairs(colmap)
    if (dropped.nonEmpty) out += "#dropped=" + dropped.toSeq.sorted.map(esc).mkString("\t")
    if (tblprops.nonEmpty) out += "#tblprop=" + pairs(tblprops)
    checks.foreach { case (n, s) => out += s"#check=$n=$s" }
    dv.foreach(n => out += s"#dv=$n")
    changeFiles.foreach { cfs =>
      out += "#cdf=1"
      cfs.foreach(p => out += s"#changefile=$p")
    }
    if (partitionCols.nonEmpty) {
      out += s"#partition=${partitionCols.mkString(",")}"
      files.foreach(p => fileParts.get(p).foreach(t => out += s"#filepart=$p" +
        partitionCols.flatMap(c => t.get(c).map(v => s"\t$c=${esc(v)}")).mkString))
    }
    files.foreach(p => rawStats.get(p).filter(_.nonEmpty)
      .foreach(t => out += s"#filestat=$p\t$t"))
    (out.result() ++ files).mkString("\n").getBytes("UTF-8")
  }
}

private[graft] object Manifest {
  val empty: Manifest = Manifest()

  def parse(lines: Iterator[String]): Manifest = {
    var m = empty
    val files, changeFiles = Seq.newBuilder[String]
    val checks = Seq.newBuilder[(String, String)]
    val parts = Map.newBuilder[String, Map[String, String]]
    val stats = Map.newBuilder[String, String]
    val seen = scala.collection.mutable.Set[String]()
    var cdf = false
    def tabbed(body: String): Seq[String] =
      if (body.isEmpty) Seq.empty else body.split("\t").toSeq
    def pairs(body: String): Map[String, String] = tabbed(body).map { pair =>
      val i = pair.indexOf(':')
      unesc(pair.take(i)) -> unesc(pair.drop(i + 1))
    }.toMap
    lines.filter(_.nonEmpty).foreach { l =>
      if (!l.startsWith("#")) files += l
      else if (l == "#cdf=1") cdf = true
      else {
        val key = l.take(l.indexOf('=') + 1)
        val body = l.drop(key.length)
        key match {
          case "#check=" =>
            val i = body.indexOf('=')
            checks += (body.take(i) -> body.drop(i + 1))
          case "#changefile=" => changeFiles += body
          case "#filepart=" =>
            val kv = body.split("\t")
            parts += kv.head -> kv.tail.map { e =>
              val i = e.indexOf('=')
              e.take(i) -> unesc(e.drop(i + 1))
            }.toMap
          case "#filestat=" =>
            val i = body.indexOf('\t')
            stats += (if (i < 0) body -> "" else body.take(i) -> body.drop(i + 1))
          case k if !seen.add(k) => () // a repeated singular header: the first wins
          case "#batch=" => m = m.copy(batch = Some(body.toLong))
          case "#lastbatch=" => m = m.copy(watermark = Some(body.toLong))
          case "#schema=" => m = m.copy(schemaJson = Some(body))
          case "#colmap=" => m = m.copy(colmap = pairs(body))
          case "#dropped=" => m = m.copy(dropped = tabbed(body).map(unesc).toSet)
          case "#tblprop=" => m = m.copy(tblprops = pairs(body))
          case "#dv=" => m = m.copy(dv = Some(body))
          case "#partition=" => m = m.copy(partitionCols = body.split(",").toSeq)
          case _ => () // a header this reader does not know
        }
      }
    }
    m.copy(files = files.result(), checks = checks.result(),
      fileParts = parts.result(), rawStats = stats.result(),
      changeFiles = if (cdf) Some(changeFiles.result()) else None)
  }

  // manifest-safe escaping for names, values and string stat bounds:
  // URL-encode (covers the '\t' entry separator, ':' field separator,
  // newlines, '%'), then escape the one URL-safe char the stat format
  // claims — '*' marks "+∞"
  def esc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8").replace("*", "%2A")
  def unesc(s: String): String = java.net.URLDecoder.decode(s, "UTF-8")

  /** One file's stat entries: `<col>:L:<min>:<max>` (long-encoded types)
    * or `<col>:S:<esc(min)>:<esc(maxUpper)|*>` (strings); the null-aware
    * variants `LN`/`SN` append `:<0|1>` — whether the file holds any null
    * in the column (IS NULL pruning). Legacy untagged `<col>:<min>:<max>`
    * entries still decode as L. A column that is all-NULL in a file is
    * omitted (the file is conservatively kept by every prune). */
  def encodeStats(stats: Seq[(String, ColStat)]): String = stats.map {
    case (c, LongStat(lo, hi, None))    => s"$c:L:$lo:$hi"
    case (c, LongStat(lo, hi, Some(n))) => s"$c:LN:$lo:$hi:${if (n) 1 else 0}"
    case (c, StrStat(lo, hi, None))     =>
      s"$c:S:${esc(lo)}:${hi.map(esc).getOrElse("*")}"
    case (c, StrStat(lo, hi, Some(n)))  =>
      s"$c:SN:${esc(lo)}:${hi.map(esc).getOrElse("*")}:${if (n) 1 else 0}"
  }.mkString("\t")

  def decodeStats(entries: String): Map[String, ColStat] =
    if (entries.isEmpty) Map.empty
    else entries.split("\t").map[(String, ColStat)] { s =>
      // a full ':' split is safe: esc URL-encodes ':' inside string
      // bounds. limit -1 preserves TRAILING empty fields — an escaped
      // empty-string bound ('c:S:lo:' or 'c:S::') must keep its arity, or
      // the 4-ary S entry would collapse into the 3-ary legacy pattern
      s.split(":", -1) match {
        case Array(c, "L", lo, hi) => c -> LongStat(lo.toLong, hi.toLong)
        case Array(c, "LN", lo, hi, n) =>
          c -> LongStat(lo.toLong, hi.toLong, Some(n == "1"))
        case Array(c, "S", lo, hi) =>
          c -> StrStat(unesc(lo), if (hi == "*") None else Some(unesc(hi)))
        case Array(c, "SN", lo, hi, n) => c -> StrStat(unesc(lo),
          if (hi == "*") None else Some(unesc(hi)), Some(n == "1"))
        case Array(c, lo, hi) => c -> LongStat(lo.toLong, hi.toLong) // legacy
        case bad => throw new IllegalStateException(
          s"unparseable stat entry '${bad.mkString(":")}' in a manifest")
      }
    }.toMap
}
