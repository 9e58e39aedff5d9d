package graft.operators

import scala.concurrent.ExecutionContext
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, MapType, StructType}

/** The reference pipeline's relational surface (SURVEY.md §2.3,
  * operators R1–R10), re-expressed as declarative Spark ops so Catalyst
  * owns the physical strategy.
  *
  * Scale posture (100 TB): every operator here is a narrow projection,
  * a pushdown-able filter, or a hash aggregate — no driver-side
  * collection, no per-row RPC, no `collect()`. The reference's
  * sequential partition loop (etl.py:189-195) becomes either genuine
  * source partitions (OData connector, graft.sources.odata) or a
  * broadcast semi-join against the distinct key set.
  */
object Etl {

  /** R1 — distinct non-null, non-empty values of one column, ascending.
    * Reference: `sorted({v for r in rows if (v := r.get(f))})`
    * (etl.py:124-138). Hash-aggregate distinct + global sort; at scale
    * this is a low-cardinality partial-agg → tiny shuffle.
    */
  def distinctKeys(df: DataFrame, keyCol: String): DataFrame =
    df.select(keyCol)
      .where(col(keyCol).isNotNull && col(keyCol) =!= "")
      .distinct()
      .orderBy(keyCol)

  /** R2/R3 — value-partitioned scan + union-all. The reference fetches
    * one filtered page-set per distinct key of a *codes* entity and
    * concatenates (etl.py:140-195); keys present in main but absent
    * from codes are silently dropped (SURVEY §4.3.3) — i.e. an inner
    * semi-join restriction of `main` to codes' key set.
    *
    * Spark-first: LEFT SEMI join with the (tiny, distinct) key set
    * broadcast — no shuffle of the big side, equivalent to partition
    * pruning. At 100 TB the main side streams through a broadcast hash
    * semi-join; the per-key loop parallelism the reference lacks is
    * implicit in the scan's partitions.
    *
    * The broadcast is GUARDED: the key set materializes once
    * (localCheckpoint — it exists to be joined against, and counting
    * it afterwards is a control-plane job over cached blocks), and a
    * key set larger than `maxBroadcastKeys` falls back to a shuffled
    * semi-join instead of force-broadcasting an unbounded table to
    * every executor. Codes entities are small by contract, but a
    * million-key "codes" table must degrade to a shuffle, not an OOM;
    * AQE may still pick broadcast at runtime if the byte size allows.
    */
  def valuePartitionedScan(main: DataFrame, codes: DataFrame, keyCol: String,
                           maxBroadcastKeys: Long = 1000000L): DataFrame = {
    val keys = distinctKeys(codes, keyCol).localCheckpoint()
    if (keys.count() <= maxBroadcastKeys)
      main.join(broadcast(keys), Seq(keyCol), "left_semi")
    else
      main.join(keys, Seq(keyCol), "left_semi")
  }

  /** R6 — rename via map; unmatched columns pass through
    * (etl.py:53-61). Duplicate *target* names are legal in the
    * reference's CSV; internally we keep names unique and only
    * materialize duplicates at the sink (SURVEY §7.4.2), so this
    * variant requires injective targets and `renameForSink` handles
    * the duplicate-producing case.
    */
  def renameColumns(df: DataFrame, renameMap: Map[String, String]): DataFrame =
    df.select(df.columns.map(c => col(c).as(renameMap.getOrElse(c, c))).toIndexedSeq: _*)

  /** R7 — expected columns first (in declared order, only those
    * present), then all remaining columns in arrival order
    * (etl.py:204-207).
    */
  def reorderColumns(df: DataFrame, expectedFirst: Seq[String]): DataFrame = {
    val present = expectedFirst.filter(df.columns.contains)
    val rest    = df.columns.filterNot(present.contains)
    df.select((present ++ rest).map(col).toIndexedSeq: _*)
  }

  /** R8 — stringify nested cells so whole-row dedup is well-defined
    * (etl.py:180-183,209 stringifies dict/list before
    * drop_duplicates). Engine semantics: `to_json` for
    * struct/array/map columns (documented deviation from Python-repr,
    * SURVEY §7.4.1); scalars pass through untouched.
    */
  def stringifyNested(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case _: StructType | _: ArrayType | _: MapType => to_json(col(f.name)).as(f.name)
        case _ => col(f.name)
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** R9 — whole-row distinct (etl.py:209). Hash aggregate over all
    * columns; at scale this is the one genuine full shuffle of the
    * reference pipeline — partial aggregation halves it, AQE coalesces
    * the post-shuffle partitions.
    */
  def dedupRows(df: DataFrame): DataFrame =
    stringifyNested(df).dropDuplicates()

  /** R10 — empty-result guard: warn + proceed (etl.py:197-199).
    *
    * Lazy: it runs no job of its own. It attaches an observed row
    * count (`observe` → a `CollectMetrics` node) and calls `log` when
    * the first action on the returned frame completes with 0 rows, so
    * the sink's own write is the only scan (an `isEmpty` here would
    * plan and partly run the source a second time). The warning
    * therefore comes when that action completes, not before it, and
    * `log` runs on Spark's listener thread, so it should return quickly.
    *
    * Placement: apply it ABOVE any aggregate of the frame (e.g. after
    * [[dedupRows]]). Below an aggregate whose input turns out empty
    * only at runtime, AQE's empty-relation propagation drops the
    * observing stage from the final plan, and the observation
    * completes without a count. A frame that never sees an action
    * never warns, and its observation stays registered with the
    * session until one does.
    */
  def emptyGuard(df: DataFrame, log: String => Unit = m => System.err.println(m)): DataFrame = {
    val obs = Observation()
    val out = df.observe(obs, count(lit(1)))
    obs.future.foreach { r =>
      if (r.length == 1 && r.getLong(0) == 0L) log("[graft.etl] empty result — writing empty output")
    }(ExecutionContext.parasitic)
    out
  }

  /** Full reference chain: restrict to codes' key set (R2/R3), rename
    * (R6), reorder (R7), stringify+dedup (R8/R9).
    */
  def pipeline(main: DataFrame, codes: DataFrame, keyCol: String,
               renameMap: Map[String, String], expectedFirst: Seq[String]): DataFrame = {
    val restricted = valuePartitionedScan(main, codes, keyCol)
    val renamed    = renameColumns(restricted, renameMap)
    dedupRows(reorderColumns(renamed, expectedFirst))
  }

  /** Sink-time rename permitting DUPLICATE target names — the
    * reference's CSV legally carries `Structure` twice because two
    * source fields map to the same business name (etl.py:53-61,
    * employee_data.csv:1). Internal plans keep unique names (Spark
    * transformations reject duplicates); this runs as the LAST
    * projection before a write.
    */
  def renameForSink(df: DataFrame, renameMap: Map[String, String]): DataFrame =
    df.select(df.columns.map(c => col(c).as(renameMap.getOrElse(c, c))).toIndexedSeq: _*)

  /** K1 — CSV sink: header, UTF-8, overwrite (etl.py:220-223;
    * idempotent-overwrite semantics per etl.yml). `singleFile` keeps
    * the reference's one-CSV-in-git contract without a `coalesce(1)`,
    * which would run the frame's whole last stage (the dedup
    * aggregate's final pass) as one task: every partition writes its
    * own part file, header included, into a hidden sibling directory
    * of `path`; the driver concatenates the parts in name order into
    * one file named like the first part, keeping the first header and
    * dropping every later one, and then renames the directory, its
    * `_SUCCESS` marker included, onto `path`. Only that byte copy is
    * serial. An empty frame writes one header-only file, as the
    * coalesced write did, and a failed write leaves no directory
    * behind. Without `singleFile` the part files stay as written.
    */
  def writeCsv(df: DataFrame, path: String, singleFile: Boolean = true): Unit = {
    def write(to: String): Unit = df.write.mode("overwrite").option("header", "true").csv(to)
    if (!singleFile) return write(path)
    import org.apache.hadoop.fs.Path
    val fs = new Path(path).getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val dest = fs.makeQualified(new Path(path))
    val tmp = new Path(dest.getParent, s".${dest.getName}.parts-${java.util.UUID.randomUUID()}")
    def rename(from: Path, to: Path): Unit =
      if (!fs.rename(from, to)) throw new java.io.IOException(s"csv sink: cannot rename $from to $to")
    try {
      write(tmp.toString)
      // Spark writes at least one part, even for an empty frame
      val parts = fs.listStatus(tmp).map(_.getPath)
        .filter(_.getName.startsWith("part-")).sortBy(_.getName)
      val merged = new Path(tmp, "_merged")
      val out = fs.create(merged, false)
      try {
        var header: Array[Byte] = null
        parts.foreach { part =>
          val in = fs.open(part)
          try {
            val h = csvHeader(in)
            if (header == null) { header = h; out.write(h) }
            else require(h.isEmpty || java.util.Arrays.equals(h, header),
              s"csv sink: part $part starts with a different header")
            in.transferTo(out)
          } finally in.close()
        }
      } finally out.close()
      parts.foreach(fs.delete(_, false))
      rename(merged, parts.head)
      if (fs.exists(dest)) fs.delete(dest, true)
      rename(tmp, dest)
    } finally if (fs.exists(tmp)) fs.delete(tmp, true)
  }

  /** The header record a CSV part file starts with: its bytes up to and
    * including the first line feed outside a quoted field (the sink's
    * default quote `"` and escape `\`); empty for an empty file.
    */
  private def csvHeader(in: java.io.InputStream): Array[Byte] = {
    val h = new java.io.ByteArrayOutputStream
    var quoted, escaped = false
    var b = in.read()
    while (b >= 0) {
      h.write(b)
      if (escaped) escaped = false
      else if (quoted && b == '\\') escaped = true
      else if (b == '"') quoted = !quoted
      else if (b == '\n' && !quoted) return h.toByteArray
      b = in.read()
    }
    h.toByteArray
  }

  /** K1b — JSONL sink: one JSON object per line, overwrite. Same
    * single-file contract as [[writeCsv]]; JSONL keeps nested
    * struct/array columns lossless where CSV needs [[stringifyNested]].
    */
  def writeJsonl(df: DataFrame, path: String, singleFile: Boolean = true): Unit = {
    val out = if (singleFile) df.coalesce(1) else df
    out.write.mode("overwrite").json(path)
  }

  /** FIXED-WIDTH flat-file SINK — the mainframe/enterprise feed
    * format OData estates still exchange (COBOL copybook layouts, no
    * delimiters): every column renders into exactly `width`
    * characters, right-padded with spaces, rows concatenated in
    * declaration order. Map-only (one codegen'd concat of rpads), no
    * shuffle beyond the single-file coalesce. A value WIDER than its
    * declared column would silently corrupt every following field of
    * the row, so the writer fails fast instead — the overflow guard
    * is `raise_error` folded INTO the render expression (a second
    * validity scan would double the read of a 100 TB feed, and its
    * `sum()` returns null on an empty input; inline, an empty frame
    * just writes an empty file and the first offending row aborts the
    * write with the column name and value in the message).
    */
  def writeFixedWidth(df: DataFrame, path: String,
                      widths: Seq[(String, Int)],
                      singleFile: Boolean = true): Unit = {
    require(widths.nonEmpty, "need at least one (column, width)")
    val line = concat(widths.map { case (c, w) =>
      val s = coalesce(col(c).cast("string"), lit(""))
      when(length(s) > w, raise_error(concat(
          lit(s"fixed-width overflow: value of '$c' exceeds width $w — "),
          lit("widen the column; value='"), s, lit("'"))))
        .otherwise(rpad(s, w, " ")) }: _*)
    val out = df.select(line.as("value"))
    (if (singleFile) out.coalesce(1) else out)
      .write.mode("overwrite").text(path)
  }

  /** FIXED-WIDTH SOURCE — [[writeFixedWidth]]'s read side: substring
    * each declared span out of the line and right-trim the padding;
    * all columns come back as strings (the caller casts — copybook
    * layouts carry no type metadata). Map-only over the text scan:
    * the substrings are codegen'd, so a 100 TB feed parses at scan
    * throughput with no UDF in the path.
    */
  def readFixedWidth(spark: org.apache.spark.sql.SparkSession, path: String,
                     widths: Seq[(String, Int)]): DataFrame = {
    require(widths.nonEmpty, "need at least one (column, width)")
    val offsets = widths.scanLeft(1) { case (o, (_, w)) => o + w }
    spark.read.text(path).select(
      widths.zip(offsets).map { case ((c, w), o) =>
        rtrim(substring(col("value"), o, w)).as(c) }: _*)
  }

  /** One field of a BINARY fixed-length record (the true mainframe
    * wire shape: undelimited records, text spans AND nibble-packed
    * COMP-3 decimals side by side — unlike the newline-delimited
    * [[writeFixedWidth]] text form, a packed span can hold ANY byte,
    * so no delimiter is safe and records must be length-addressed).
    */
  sealed trait FixedSpan { def name: String; def bytes: Int }
  /** `PIC X(width)` — text, space-padded, ISO-8859-1 (one byte per
    * char, the single-byte-codepage stand-in for EBCDIC).
    */
  final case class CharSpan(name: String, width: Int) extends FixedSpan {
    require(width > 0, s"CharSpan '$name' width must be positive: $width")
    def bytes: Int = width
  }
  /** `PIC S9(p−s)V9(s) COMP-3` — packed decimal, `precision/2 + 1`
    * bytes (see [[graft.plans.PackedDecimal]]).
    */
  final case class PackedSpan(name: String, precision: Int, scale: Int)
    extends FixedSpan {
    def bytes: Int = graft.plans.PackedDecimal.bytesFor(precision)
  }
  /** `PIC S9(p−s)V9(s)` DISPLAY — zoned decimal with the overpunched
    * sign, one byte per digit (see [[graft.plans.ZonedDecimal]]).
    */
  final case class ZonedSpan(name: String, precision: Int, scale: Int)
    extends FixedSpan {
    def bytes: Int = precision
  }
  /** `PIC X(width)` in a true mainframe codepage — EBCDIC IBM037 by
    * default, the charset an UNTRANSLATED transfer actually arrives
    * in (space pads as EBCDIC 0x40, 'A' is 0xC1, digits are 0xF0-0xF9
    * — nothing ASCII survives). Spark's `encode`/`decode` built-ins
    * whitelist six charsets, none EBCDIC, so the span rides the
    * native codegen'd [[graft.plans.Codepage]] kernels instead. Any
    * single-byte bijective JDK charset name works (IBM1047, IBM500,
    * ...).
    */
  final case class EbcdicSpan(name: String, width: Int,
                              codepage: String = "IBM037") extends FixedSpan {
    require(width > 0, s"EbcdicSpan '$name' width must be positive: $width")
    graft.plans.Codepage.checkCharset(codepage)
    def bytes: Int = width
  }
  /** `PIC S9(p−s)V9(s) COMP` / `COMP-4` / `BINARY` — big-endian
    * two's-complement unscaled value in the IBM storage sizes
    * (halfword/fullword/doubleword by digit count; see
    * [[graft.plans.BinaryInt]]).
    */
  final case class BinarySpan(name: String, precision: Int, scale: Int)
    extends FixedSpan {
    def bytes: Int = graft.plans.BinaryInt.bytesFor(precision)
  }

  /** Parse a COBOL COPYBOOK (the layout language every mainframe feed
    * is actually documented in) into the [[FixedSpan]]s the
    * fixed/RDW/RDWB sources and sinks consume — so the copybook IS the
    * schema, not a hand-transcription of it. Supported subset, chosen
    * to cover data-record layouts (anything else fails FAST with the
    * offending clause — a silently mis-parsed layout shifts every
    * later field, the worst possible outcome):
    *
    *  - elementary items with `PIC X/A...` text (→ [[CharSpan]], or
    *    [[EbcdicSpan]] when `textCodepage` is given) and
    *    `PIC [S]9...[V9...]` numerics — repeat-counts `X(8)`,
    *    shorthand runs `XXX`/`99V99`, implied decimal `V`;
    *  - `COMP-3`/`PACKED-DECIMAL` usage (→ [[PackedSpan]]),
    *    `COMP`/`COMP-4`/`BINARY` (→ [[BinarySpan]]), explicit or
    *    absent `DISPLAY` (→ [[ZonedSpan]]), with or without
    *    `USAGE [IS]`;
    *  - `OCCURS n TIMES` on elementary items (→ `name_1..name_n`);
    *  - `FILLER` (→ `filler_i` spans — they occupy bytes, so they
    *    must decode; drop the columns after the read);
    *  - group items (no PIC — storage lives in their children),
    *    level-88 condition names (no storage), `VALUE` clauses
    *    (meaningless for a transfer layout; the remainder of that
    *    sentence is ignored), comment lines (first non-blank `*`).
    *
    * Rejected, by name: `COMP-1`/`COMP-2` (floating point) and
    * `COMP-5` (native-endian), `REDEFINES` (two
    * layouts for one region — the caller must pick one and write it
    * as its own copybook), `OCCURS` on a GROUP and
    * `OCCURS DEPENDING ON` (variable layouts belong to the RDW tail),
    * `SYNCHRONIZED`/`JUSTIFIED` (alignment/semantics this parser
    * cannot honor), level-66 `RENAMES`.
    */
  def parseCopybook(text: String, textCodepage: Option[String] = None): Seq[FixedSpan] = {
    def fail(msg: String) = throw new IllegalArgumentException(s"copybook: $msg")
    val body = text.linesIterator
      .filterNot(_.trim.startsWith("*")) // comment lines
      .mkString(" ")
    // sentences end at a period before whitespace/end (periods inside
    // numeric literals like 1.5 have no following space)
    val sentences = body.split("\\.(\\s+|\\s*$)").map(_.trim).filter(_.nonEmpty)
    var fillerIdx = 0
    val spans = Seq.newBuilder[FixedSpan]
    def expandPic(pic: String): String = {
      val up = pic.toUpperCase
      val sb = new StringBuilder
      var i = 0
      while (i < up.length) {
        val c = up(i)
        if (i + 1 < up.length && up(i + 1) == '(') {
          val close = up.indexOf(')', i + 2)
          if (close < 0) fail(s"unbalanced repeat in PIC '$pic'")
          val n = scala.util.Try(up.substring(i + 2, close).trim.toInt)
            .getOrElse(fail(s"bad repeat count in PIC '$pic'"))
          sb.append(c.toString * n)
          i = close + 1
        } else { sb.append(c); i += 1 }
      }
      sb.toString
    }
    sentences.foreach { sentence =>
      val toks = sentence.split("\\s+").toList
      toks match {
        case lvl :: rest if lvl.nonEmpty && lvl.forall(_.isDigit) =>
          val level = lvl.toInt
          if (level == 66) fail(s"level-66 RENAMES not supported: '$sentence'")
          if (level != 88) rest match {
            case rawName :: tail0 =>
              // VALUE has no storage meaning in a transfer layout —
              // drop it and everything after it in this sentence.
              // COMPUTATIONAL[-N] is the long synonym of COMP[-N]
              // (ISO COBOL): normalize so the usage matching below
              // cannot silently mis-parse COMPUTATIONAL-3 as DISPLAY
              // (which would shift every later field)
              val tail = tail0.map(_.toUpperCase)
                .map(t => if (t.startsWith("COMPUTATIONAL"))
                  t.replaceFirst("^COMPUTATIONAL", "COMP") else t)
                .takeWhile(t => t != "VALUE" && t != "VALUES")
              Seq("REDEFINES", "SYNCHRONIZED", "SYNC", "JUSTIFIED", "JUST")
                .foreach(kw => if (tail.contains(kw))
                  fail(s"$kw not supported: '$sentence'"))
              val picIdx = tail.indexWhere(t => t == "PIC" || t == "PICTURE")
              val occursIdx = tail.indexOf("OCCURS")
              val occurs =
                if (occursIdx < 0) None
                else Some(scala.util.Try(tail(occursIdx + 1).toInt).getOrElse(
                  fail(s"bad OCCURS count: '$sentence'")))
              if (tail.contains("DEPENDING"))
                fail(s"OCCURS DEPENDING ON not supported (variable " +
                  s"layouts belong to the RDW tail): '$sentence'")
              if (picIdx < 0) {
                // group item: storage lives in its children
                if (occurs.isDefined)
                  fail(s"OCCURS on a GROUP not supported: '$sentence'")
              } else {
                if (picIdx + 1 >= tail.length) fail(s"PIC without a picture: '$sentence'")
                val usageToks = tail.patch(picIdx, Nil, 2)
                  .filterNot(t => t == "USAGE" || t == "IS" || t == "OCCURS" ||
                    t == "TIMES" || occurs.exists(_.toString == t))
                usageToks.find(t => Set("COMP-1", "COMP-2", "COMP-5").contains(t))
                  .foreach(t => fail(s"usage $t not supported (floating-point" +
                    s"/native-endian storage): '$sentence'"))
                val packed = usageToks.exists(t =>
                  t == "COMP-3" || t == "PACKED-DECIMAL")
                val binary = usageToks.exists(t => t == "COMP" ||
                  t == "COMP-4" || t == "BINARY")
                val name =
                  if (rawName.toUpperCase == "FILLER") {
                    fillerIdx += 1; s"filler_$fillerIdx"
                  } else rawName.replace('-', '_')
                val pic = expandPic(tail(picIdx + 1))
                def mk(n: String): FixedSpan =
                  if (pic.matches("[XA]+")) {
                    if (packed || binary)
                      fail(s"numeric usage on a text PIC: '$sentence'")
                    textCodepage.map(cp => EbcdicSpan(n, pic.length, cp))
                      .getOrElse(CharSpan(n, pic.length))
                  } else if (pic.matches("S?9+(V9+)?|S?V9+")) {
                    val unsigned = !pic.startsWith("S")
                    val digits = pic.stripPrefix("S")
                    val v = digits.indexOf('V')
                    val (ip, fp) =
                      if (v < 0) (digits.length, 0)
                      else (v, digits.length - v - 1)
                    if (unsigned && !packed && !binary)
                      fail(s"unsigned DISPLAY numeric not supported (the " +
                        s"zoned codec models the overpunched sign; declare " +
                        s"S9 or use COMP-3): '$sentence'")
                    if (packed) PackedSpan(n, ip + fp, fp)
                    else if (binary) BinarySpan(n, ip + fp, fp)
                    else ZonedSpan(n, ip + fp, fp)
                  } else fail(s"unsupported PICTURE '$pic': '$sentence'")
                occurs match {
                  case None => spans += mk(name)
                  case Some(k) =>
                    if (k <= 0) fail(s"OCCURS count must be positive: '$sentence'")
                    (1 to k).foreach(i => spans += mk(s"${name}_$i"))
                }
              }
            case Nil => fail(s"level $lvl with no name: '$sentence'")
          }
        case _ => fail(s"unparseable sentence '$sentence'")
      }
    }
    val out = spans.result()
    if (out.isEmpty) fail("no elementary items found")
    // generated names can collide with genuine fields: OCCURS suffixes
    // (SCORES OCCURS 2 → SCORES_2 vs a declared SCORES-2), FILLER slots
    // (filler_1 vs a field named FILLER-1), and the '-'→'_'
    // normalization (A-B vs A_B) all map distinct copybook items onto
    // one span name — which would surface much later as an
    // ambiguous-column error in the read/write plans. Fail fast, by
    // name, at parse time.
    locally {
      // case-INSENSITIVE: Spark's default column resolution is, so
      // FILLER_1 (a declared FILLER-1) vs filler_1 (a generated slot)
      // is just as ambiguous as an exact duplicate
      val dups = out.map(_.name).groupBy(_.toLowerCase).collect {
        case (_, occ) if occ.size > 1 => occ.distinct.mkString("/") }
      if (dups.nonEmpty)
        fail(s"generated span name(s) ${dups.toSeq.sorted.mkString(", ")} " +
          "collide (OCCURS suffixing, FILLER numbering, and '-'→'_' " +
          "normalization share one case-insensitive namespace) — rename " +
          "the conflicting copybook items")
    }
    out
  }

  private def packedEncode(c: Column, p: Int, s: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.plans.PackedDecimalEncode(
        org.apache.spark.sql.graft.ColumnBridge.expression(c), p, s))

  private def packedDecode(c: Column, p: Int, s: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.plans.PackedDecimalDecode(
        org.apache.spark.sql.graft.ColumnBridge.expression(c), p, s))

  private def zonedEncode(c: Column, p: Int, s: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.plans.ZonedDecimalEncode(
        org.apache.spark.sql.graft.ColumnBridge.expression(c), p, s))

  private def zonedDecode(c: Column, p: Int, s: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.plans.ZonedDecimalDecode(
        org.apache.spark.sql.graft.ColumnBridge.expression(c), p, s))

  private def binaryEncode(c: Column, p: Int, s: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.plans.BinaryIntEncode(
        org.apache.spark.sql.graft.ColumnBridge.expression(c), p, s))

  private def binaryDecode(c: Column, p: Int, s: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.plans.BinaryIntDecode(
        org.apache.spark.sql.graft.ColumnBridge.expression(c), p, s))

  private def codepageEncode(c: Column, charset: String): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.plans.CodepageEncode(
        org.apache.spark.sql.graft.ColumnBridge.expression(c), charset))

  private def codepageDecode(c: Column, charset: String): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.plans.CodepageDecode(
        org.apache.spark.sql.graft.ColumnBridge.expression(c), charset))

  /** One span's codegen'd binary piece for the record `concat`: text
    * spans rpad + raise_error-overflow-guarded (the inline discipline
    * — no second validation scan) then single-byte encoded; numeric
    * spans through the native BCD kernels with a raise_error null
    * guard (fixed layouts have no null representation for numerics —
    * an absent value is an upstream bug, not an encodable state).
    * EBCDIC spans rpad BEFORE the codepage encode so padding spaces
    * become the codepage's own space byte (0x40); unmappable chars
    * fail inside the kernel itself (write-side fail-fast).
    */
  private def spanEncode(sp: FixedSpan): Column = sp match {
    case CharSpan(n, w) =>
      val s = coalesce(col(n).cast("string"), lit(""))
      encode(when(length(s) > w, raise_error(concat(
          lit(s"fixed-record overflow: value of '$n' exceeds width $w — "),
          lit("widen the span; value='"), s, lit("'"))))
        .otherwise(rpad(s, w, " ")), "ISO-8859-1")
    case PackedSpan(n, p, sc) =>
      when(col(n).isNull, raise_error(lit(
          s"fixed-record: packed span '$n' cannot encode SQL NULL")))
        .otherwise(packedEncode(col(n), p, sc))
    case ZonedSpan(n, p, sc) =>
      when(col(n).isNull, raise_error(lit(
          s"fixed-record: zoned span '$n' cannot encode SQL NULL")))
        .otherwise(zonedEncode(col(n), p, sc))
    case BinarySpan(n, p, sc) =>
      when(col(n).isNull, raise_error(lit(
          s"fixed-record: binary span '$n' cannot encode SQL NULL")))
        .otherwise(binaryEncode(col(n), p, sc))
    case EbcdicSpan(n, w, cp) =>
      val s = coalesce(col(n).cast("string"), lit(""))
      codepageEncode(when(length(s) > w, raise_error(concat(
          lit(s"fixed-record overflow: value of '$n' exceeds width $w — "),
          lit("widen the span; value='"), s, lit("'"))))
        .otherwise(rpad(s, w, " ")), cp)
  }

  /** One span's decode off a binary `record` column at 1-based offset
    * `o` — codegen'd binary substring into the matching codec.
    */
  private def spanDecode(sp: FixedSpan, o: Int): Column = sp match {
    case CharSpan(n, w) =>
      rtrim(decode(substring(col("record"), o, w), "ISO-8859-1")).as(n)
    case sp @ PackedSpan(n, p, sc) =>
      packedDecode(substring(col("record"), o, sp.bytes), p, sc).as(n)
    case sp @ ZonedSpan(n, p, sc) =>
      zonedDecode(substring(col("record"), o, sp.bytes), p, sc).as(n)
    case sp @ BinarySpan(n, p, sc) =>
      binaryDecode(substring(col("record"), o, sp.bytes), p, sc).as(n)
    case EbcdicSpan(n, w, cp) =>
      rtrim(codepageDecode(substring(col("record"), o, w), cp)).as(n)
  }

  /** BINARY fixed-record SINK — [[writeFixedWidth]]'s COMP-3-capable
    * sibling. The record renders as ONE codegen'd `concat` of binary
    * pieces: text spans rpad + raise_error-overflow-guarded (the
    * inline discipline — no second validation scan) then ISO-8859-1
    * encoded; packed spans through the native
    * [[graft.plans.PackedDecimalEncode]] kernel with a raise_error
    * null guard (fixed-width has no null representation for numerics
    * — an absent value is an upstream bug, not an encodable state).
    *
    * The files are RAW concatenated records (what `binaryRecords`
    * and every mainframe transfer expects), which no Spark sink
    * emits — so the write is per-partition imperative IO through the
    * Hadoop FileSystem (the documented mapPartitions-as-last-resort
    * case: this IS per-partition IO, not row logic; the record BYTES
    * are still built by codegen upstream). Each task writes one
    * part file of whole records, so any file is independently a
    * valid fixed-record file; a `_SUCCESS` marker commits the
    * directory.
    */
  def writeFixedRecords(df: DataFrame, path: String, spans: Seq[FixedSpan],
                        singleFile: Boolean = true): Unit = {
    require(spans.nonEmpty, "need at least one span")
    val recLen = spans.map(_.bytes).sum
    val record = concat(spans.map(spanEncode): _*)
    val out = df.select(record.as("record"))
    streamRecordsToFiles(out, path, singleFile, fixedLen = Some(recLen))
  }

  /** Shared raw-record sink: stream a one-binary-column frame into
    * `part-NNNNN.bin` files of concatenated records through the
    * Hadoop FileSystem (no Spark sink emits undelimited binary), with
    * overwrite semantics and a `_SUCCESS` commit marker. The
    * per-partition imperative IO is the documented
    * mapPartitions-as-last-resort case — IO, not row logic; record
    * bytes are built by codegen upstream.
    */
  private def streamRecordsToFiles(out: DataFrame, path: String,
                                   singleFile: Boolean,
                                   fixedLen: Option[Int],
                                   blockBytes: Option[Int] = None): Unit = {
    val rows = (if (singleFile) out.coalesce(1) else out).rdd
      .map(_.getAs[Array[Byte]](0))
    val spark = out.sparkSession
    val hconf = spark.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(hconf)
    fs.delete(dir, true) // overwrite semantics, like the other sinks
    fs.mkdirs(dir)
    val uri = new java.net.URI(path)
    rows.mapPartitionsWithIndex { (i, it) =>
      if (it.hasNext) {
        // executor-side FS handle (Configuration is not serializable;
        // default conf resolves the same scheme the driver validated)
        val pfs = org.apache.hadoop.fs.FileSystem.get(uri,
          new org.apache.hadoop.conf.Configuration())
        val os = pfs.create(
          new org.apache.hadoop.fs.Path(path, f"part-$i%05d.bin"), true)
        try blockBytes match {
          case None => it.foreach { r =>
            fixedLen.foreach(n => require(r.length == n,
              s"record is ${r.length} bytes, expected $n")) // belt
            os.write(r)
          }
          case Some(bs) =>
            // RECFM=VB blocking: records pack into blocks of ≤ bs
            // bytes, each fronted by a BDW (big-endian u16 block
            // length INCLUDING the BDW, two zero bytes) — the IBM
            // BLKSIZE contract. A record that cannot fit even an
            // empty block is a layout error, not a bigger block.
            val buf = new java.io.ByteArrayOutputStream()
            def flush(): Unit = if (buf.size > 0) {
              val len = buf.size + 4
              os.write(Array[Byte](
                ((len >> 8) & 0xFF).toByte, (len & 0xFF).toByte, 0, 0))
              buf.writeTo(os)
              buf.reset()
            }
            it.foreach { r =>
              require(r.length + 4 <= bs,
                s"rdwb overflow: record of ${r.length} bytes cannot fit " +
                  s"a $bs-byte block (need blockBytes >= ${r.length + 4})")
              if (4 + buf.size + r.length > bs) flush()
              buf.write(r)
            }
            flush()
        } finally os.close()
      }
      Iterator.empty
    }.count(): Unit // force the write
    fs.create(new org.apache.hadoop.fs.Path(dir, "_SUCCESS"), true).close()
  }

  /** BINARY fixed-record SOURCE — reads [[writeFixedRecords]]' (or a
    * mainframe transfer's) undelimited fixed-length records via
    * Hadoop's FixedLengthInputFormat (`sparkContext.binaryRecords`):
    * genuinely splittable — a 100 TB feed splits on record-multiple
    * boundaries across executors, no newline scanning. Spans slice
    * out of the record with codegen'd binary `substring`; text spans
    * decode ISO-8859-1 + rtrim, packed spans decode through the
    * native COMP-3 kernel (malformed → null, the poisoned-blob
    * discipline).
    */
  def readFixedRecords(spark: org.apache.spark.sql.SparkSession, path: String,
                       spans: Seq[FixedSpan]): DataFrame = {
    require(spans.nonEmpty, "need at least one span")
    val recLen = spans.map(_.bytes).sum
    val rdd = spark.sparkContext.binaryRecords(path, recLen)
    val df = spark.createDataset(rdd)(
      org.apache.spark.sql.Encoders.BINARY).toDF("record")
    val offsets = spans.scanLeft(1) { case (o, s) => o + s.bytes }
    df.select(spans.zip(offsets).map { case (sp, o) => spanDecode(sp, o) }: _*)
  }

  /** VARIABLE-length binary record SINK — the IBM `RECFM=V/VB` wire
    * shape: each record carries a 4-byte Record Descriptor Word
    * (big-endian u16 length INCLUDING the RDW itself, then two zero
    * bytes) in front of fixed spans plus an optional UNPADDED
    * variable-length text tail. This is what a variable copybook
    * (`OCCURS DEPENDING ON` / trailing `PIC X` text) actually ships —
    * padding a free-text field to its maximum width can multiply a
    * feed's size, which is the entire reason V-format exists.
    *
    * The RDW renders with BUILT-INS only — `unhex(lpad(hex(len),4))`
    * is the big-endian u16 — so the whole record stays one codegen'd
    * concat; records longer than the RDW's 32 KiB ceiling raise (the
    * inline fail-fast discipline). Files stream through
    * [[streamRecordsToFiles]] like the fixed sink.
    */
  def writeRdwRecords(df: DataFrame, path: String, spans: Seq[FixedSpan],
                      tail: Option[(String, String)] = None,
                      singleFile: Boolean = true): Unit = {
    require(spans.nonEmpty || tail.nonEmpty, "need at least one span or a tail")
    streamRecordsToFiles(df.select(rdwRecordColumn(spans, tail).as("record")),
      path, singleFile, fixedLen = None)
  }

  /** One RDW-framed record as a codegen'd binary column (shared by the
    * V and VB sinks): big-endian u16 length including the RDW, two
    * zero bytes, fixed spans, optional unpadded tail.
    */
  private def rdwRecordColumn(spans: Seq[FixedSpan],
                              tail: Option[(String, String)]): Column = {
    val pieces = spans.map(spanEncode) ++ tail.map { case (n, cp) =>
      codepageEncode(coalesce(col(n).cast("string"), lit("")), cp) }
    val payload = concat(pieces: _*)
    val len = octet_length(payload) + lit(4)
    concat(
      when(len > 32760, raise_error(concat(
          lit("rdw overflow: record of "), len.cast("string"),
          lit(" bytes exceeds the RDW's 32760-byte ceiling"))))
        .otherwise(unhex(lpad(hex(len), 4, "0"))),
      lit(Array[Byte](0, 0)), payload)
  }

  /** VARIABLE-length binary record SOURCE — walks [[writeRdwRecords]]'
    * (or a mainframe transfer's) RDW-framed records. Framing is
    * length-CHAINED, so a V-format file cannot split mid-file (there
    * is no boundary to resync on — same posture as gzip); parallelism
    * comes from MANY part files, one task each, which is exactly what
    * the sink's `singleFile=false` mode and any real dataset's
    * member/extent layout provide. Records stream off a bounded
    * `DataInputStream` (never whole-file buffering); a malformed RDW
    * fails fast — framing corruption is unrecoverable by definition,
    * unlike a bad SPAN, which still decodes to null (poisoned-blob
    * discipline). Fixed spans slice at their declared offsets; the
    * optional tail takes the record's remainder, unpadded.
    */
  def readRdwRecords(spark: org.apache.spark.sql.SparkSession, path: String,
                     spans: Seq[FixedSpan],
                     tail: Option[(String, String)] = None): DataFrame = {
    require(spans.nonEmpty || tail.nonEmpty, "need at least one span or a tail")
    val fixedLen = spans.map(_.bytes).sum
    val rdd = spark.sparkContext.binaryFiles(path)
      .filter(_._1.endsWith(".bin"))
      .flatMap { case (file, pds) =>
        val in = new java.io.DataInputStream(
          new java.io.BufferedInputStream(pds.open()))
        // the stream must not leak when iteration stops early (a
        // limit abandoning the iterator) or a malformed RDW throws —
        // close at task completion, and eagerly on EOF/error
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => in.close()))
        new Iterator[Array[Byte]] {
          private var rec: Array[Byte] = advance()
          private def advance(): Array[Byte] =
            try {
              val b0 = in.read()
              if (b0 < 0) { in.close(); null }
              else {
                val b1 = in.read(); val z0 = in.read(); val z1 = in.read()
                require(b1 >= 0 && z0 == 0 && z1 == 0,
                  s"malformed RDW in $file (truncated or nonzero reserved bytes)")
                val len = (b0 << 8) | b1
                require(len >= 4 + fixedLen,
                  s"malformed RDW in $file: length $len < ${4 + fixedLen}")
                // without a variable tail every byte of the record is
                // accounted for by the fixed spans — excess payload is
                // a misdeclared layout (or corrupted length) and must
                // fail fast, not read "successfully" truncated
                require(tail.isDefined || len == 4 + fixedLen,
                  s"malformed RDW in $file: length $len != ${4 + fixedLen} " +
                    "but the layout declares no variable tail")
                val buf = new Array[Byte](len - 4)
                in.readFully(buf)
                buf
              }
            } catch { case e: Throwable => in.close(); throw e }
          def hasNext: Boolean = rec != null
          def next(): Array[Byte] = { val r = rec; rec = advance(); r }
        }
      }
    decodeVariableRecords(spark, rdd, spans, tail)
  }

  /** Shared decode of RDW-stripped variable records (the V and VB
    * sources): fixed spans at their declared offsets, the optional
    * tail taking the record's remainder, unpadded.
    */
  private def decodeVariableRecords(spark: org.apache.spark.sql.SparkSession,
                                    rdd: org.apache.spark.rdd.RDD[Array[Byte]],
                                    spans: Seq[FixedSpan],
                                    tail: Option[(String, String)]): DataFrame = {
    val fixedLen = spans.map(_.bytes).sum
    val df = spark.createDataset(rdd)(
      org.apache.spark.sql.Encoders.BINARY).toDF("record")
    val offsets = spans.scanLeft(1) { case (o, s) => o + s.bytes }
    df.select(spans.zip(offsets).map { case (sp, o) => spanDecode(sp, o) } ++
      tail.map { case (n, cp) =>
        codepageDecode(col("record").substr(lit(fixedLen + 1),
          octet_length(col("record")) - fixedLen), cp).as(n) }: _*)
  }

  /** RECFM=VB SINK — BLOCKED variable records, the shape real
    * mainframe transfers actually ship: a 4-byte Block Descriptor
    * Word (big-endian u16 block length INCLUDING the BDW, two zero
    * bytes) fronts each block of [[writeRdwRecords]]-framed RDW
    * records, packed first-fit up to `blockBytes` (the IBM BLKSIZE,
    * default the 32760 device maximum). Record bytes stay one
    * codegen'd concat; the blocking is pure write-side IO in the
    * shared record streamer.
    */
  def writeRdwbRecords(df: DataFrame, path: String, spans: Seq[FixedSpan],
                       tail: Option[(String, String)] = None,
                       blockBytes: Int = 32760,
                       singleFile: Boolean = true): Unit = {
    require(spans.nonEmpty || tail.nonEmpty, "need at least one span or a tail")
    require(blockBytes >= 8 && blockBytes <= 32760,
      s"blockBytes must be in [8, 32760], got $blockBytes")
    streamRecordsToFiles(df.select(rdwRecordColumn(spans, tail).as("record")),
      path, singleFile, fixedLen = None, blockBytes = Some(blockBytes))
  }

  /** RECFM=VB SOURCE — walks [[writeRdwbRecords]]' (or a mainframe
    * transfer's) BDW-blocked RDW records. Same posture as the V
    * reader: length-chained framing cannot split mid-file, so
    * parallelism comes from many part files; records stream off a
    * bounded `DataInputStream` one BLOCK at a time; any framing
    * corruption — a bad BDW, an RDW straddling its block's end, slack
    * bytes a record length doesn't account for — fails fast (framing
    * is unrecoverable by definition, unlike a bad span which decodes
    * to null).
    */
  def readRdwbRecords(spark: org.apache.spark.sql.SparkSession, path: String,
                      spans: Seq[FixedSpan],
                      tail: Option[(String, String)] = None): DataFrame = {
    require(spans.nonEmpty || tail.nonEmpty, "need at least one span or a tail")
    val fixedLen = spans.map(_.bytes).sum
    val rdd = spark.sparkContext.binaryFiles(path)
      .filter(_._1.endsWith(".bin"))
      .flatMap { case (file, pds) =>
        val in = new java.io.DataInputStream(
          new java.io.BufferedInputStream(pds.open()))
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => in.close()))
        new Iterator[Array[Byte]] {
          private var block: Array[Byte] = Array.emptyByteArray
          private var off = 0
          private var rec: Array[Byte] = advance()
          // one block's RECORD AREA (BDW stripped) into memory at a
          // time — bounded by the 32 KiB BDW ceiling, never the file
          private def nextBlock(): Boolean = {
            val b0 = in.read()
            if (b0 < 0) { in.close(); false }
            else {
              val b1 = in.read(); val z0 = in.read(); val z1 = in.read()
              require(b1 >= 0 && z0 == 0 && z1 == 0,
                s"malformed BDW in $file (truncated or nonzero reserved bytes)")
              val len = (b0 << 8) | b1
              require(len >= 8,
                s"malformed BDW in $file: block length $len < 8")
              block = new Array[Byte](len - 4)
              in.readFully(block)
              off = 0
              true
            }
          }
          private def advance(): Array[Byte] =
            try {
              if (off >= block.length && !nextBlock()) null
              else {
                require(off + 4 <= block.length,
                  s"malformed RDW in $file: descriptor straddles the block end")
                val len = ((block(off) & 0xFF) << 8) | (block(off + 1) & 0xFF)
                require(block(off + 2) == 0 && block(off + 3) == 0,
                  s"malformed RDW in $file (nonzero reserved bytes)")
                require(len >= 4 + fixedLen,
                  s"malformed RDW in $file: length $len < ${4 + fixedLen}")
                require(tail.isDefined || len == 4 + fixedLen,
                  s"malformed RDW in $file: length $len != ${4 + fixedLen} " +
                    "but the layout declares no variable tail")
                require(off + len <= block.length,
                  s"malformed RDW in $file: record overruns its block")
                val r = java.util.Arrays.copyOfRange(block, off + 4, off + len)
                off += len
                r
              }
            } catch { case e: Throwable => in.close(); throw e }
          def hasNext: Boolean = rec != null
          def next(): Array[Byte] = { val r = rec; rec = advance(); r }
        }
      }
    decodeVariableRecords(spark, rdd, spans, tail)
  }

  /** Wide→long reshape (pandas `melt` / SQL UNPIVOT) — the INVERSE of
    * the pivot the analytics layer already serves: each input row
    * emits one (measure, value) row per value column, id columns
    * replicated. Rides Spark's native `Dataset.unpivot` (Catalyst
    * `Expand` — ONE map-only pass, no shuffle, no join; output is
    * |values| × rows by construction, which is the reshape's honest
    * cost at any scale). The feature-pipeline use: long form is what
    * per-measure aggregation, drift profiling and plotting layers
    * consume, and what the reference's pandas world reshapes with
    * `melt` routinely.
    */
  def meltColumns(df: DataFrame, idCols: Seq[String], valueCols: Seq[String],
                  varName: String = "measure",
                  valueName: String = "value"): DataFrame = {
    require(valueCols.nonEmpty, "need at least one value column")
    df.unpivot(idCols.map(col).toArray, valueCols.map(col).toArray,
      varName, valueName)
  }

  /** Null imputation by per-group EXACT median — the classic ML-prep
    * fill, here with the LOWER-MIDDLE order statistic (1-based rank
    * ⌈n/2⌉): deterministic and interpolation-free, so the value is
    * always one the group actually contains and the oracle replays it
    * bit-for-bit (linear interpolation would put float arithmetic
    * between the engines). Scale shape: one hash aggregate folds the
    * corpus to per-(group, value) counts; the rank window rides THAT
    * bounded table, never the corpus; the |groups|-row median table
    * joins back onto the fill — WITHOUT a broadcast hint: |groups| is
    * the group column's cardinality, which nothing here bounds, and a
    * forced broadcast of a high-cardinality median table would fail or
    * OOM at the driver's broadcast limit. AQE sizes the built side at
    * runtime and broadcasts exactly when the table is actually small
    * (the common case), degrading to a shuffled join when it is not.
    * A group with no non-null value keeps its nulls — there is nothing
    * honest to impute, and inventing a global fallback silently
    * changes the distribution the imputation is supposed to preserve.
    */
  def imputeByGroupMedian(df: DataFrame, groupCol: String,
                          valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df.where(col(valueCol).isNotNull)
      .groupBy(col(groupCol), col(valueCol).as("_v"))
      .agg(count(lit(1)).as("_c"))
    val byVal = Window.partitionBy(groupCol).orderBy("_v")
    val whole = Window.partitionBy(groupCol)
    val medians = counts
      .withColumn("_cum", sum("_c").over(byVal))
      .withColumn("_r", ((sum("_c").over(whole) + 1) / 2).cast("long"))
      .where(col("_cum") - col("_c") < col("_r") && col("_r") <= col("_cum"))
      .select(col(groupCol), col("_v").as("_median"))
    df.join(medians, Seq(groupCol), "left")
      .withColumn(valueCol, coalesce(col(valueCol), col("_median")))
      .drop("_median")
  }

  /** K1c — ORC sink: the columnar alternative when a consumer is
    * Hive/Presto-shaped rather than parquet-shaped. Same overwrite
    * contract as the other sinks; no single-file coalesce by default —
    * columnar outputs are meant to stay splittable.
    */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** Lakehouse small-file compaction (the OPTIMIZE half that isn't
    * Z-ordering): rewrite a fragmented parquet directory into
    * ceil(totalBytes / targetBytes) files at `destPath`. Small files
    * are the classic silent killer of 100 TB scans — every file costs
    * a task, a footer read, and an open; a streaming sink or
    * per-partition upsert that leaves 10⁶ kilobyte-files turns a scan
    * into scheduler overhead. Sizing comes from the actual on-disk
    * listing (control-plane: one local/object-store list), not a row
    * count guess. Compacts INTO a destination — swapping the compacted
    * directory in is the caller's catalog/commit-protocol concern
    * (object stores and table formats each have their own), which is
    * why this op does not pretend a local rename is atomic.
    * Returns (input file count, output file count).
    */
  def compactParquet(spark: org.apache.spark.sql.SparkSession, srcPath: String,
                     destPath: String, targetBytes: Long = 128L << 20): (Int, Int) = {
    require(targetBytes > 0, "targetBytes must be positive")
    val files = Option(new java.io.File(srcPath).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    require(files.nonEmpty, s"no parquet files under $srcPath")
    val nOut = math.max(1L, math.ceil(
      files.map(_.length()).sum.toDouble / targetBytes).toLong).toInt
    spark.read.parquet(srcPath)
      .repartition(nOut)
      .write.mode("overwrite").parquet(destPath)
    (files.length, nOut)
  }

  /** Z-order value: bit-interleave two non-negative long columns into
    * one locality-preserving key (Morton code) — `bits` low bits of
    * each, `a`'s bit at the higher position of each pair. A pure
    * codegen'd expression tree (2·bits shift/mask/or terms), no UDF.
    */
  def zOrderValue(a: Column, b: Column, bits: Int = 20): Column =
    (0 until bits).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(1), 2 * i + 1)
        .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(1), 2 * i))
    }.reduce(_ bitwiseOR _)

  /** Write `df` clustered by the Z-order of two dimensions — the
    * lakehouse OPTIMIZE-ZORDER technique: range-repartitioning on the
    * Morton code gives every output file a BOUNDED range on BOTH
    * dimensions at once (a linear sort bounds only its own column),
    * so parquet min/max row-group pruning skips files for filters on
    * EITHER dimension. Layout is result-invisible: readers see the
    * same rows, just physically clustered — which is why the gate's
    * oracle is the plain filtered aggregate.
    *
    * Scale shape: one projection (the codegen'd Morton expression) +
    * one range shuffle + the write; no collect, no window. At 100 TB
    * this is the difference between scanning the whole fact table and
    * reading the handful of files whose (custkey × day) cube
    * intersects the predicate.
    */
  def writeZOrdered(df: DataFrame, path: String, colA: String, colB: String,
                    numFiles: Int = 16, bits: Int = 20): Unit =
    df.withColumn("__z",
        zOrderValue(col(colA).cast("long"), col(colB).cast("long"), bits))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)

  /** [[writeZOrdered]] only when the clustered layout isn't already
    * on disk — the same serve-don't-rebuild discipline as every other
    * materialized artifact (`ensureDatePartitioned`, the cluster/index
    * maps): OPTIMIZE ZORDER runs once per corpus (or per maintenance
    * window), and every query between maintenance runs reads the
    * existing layout. Repeated callers (bench warm runs, dashboards)
    * measure the pruned READ — the steady state the layout exists for.
    * The write path itself stays independently proven by the
    * delta-slice write gate.
    *
    * The marker proves only that SOME layout finished at `path` —
    * callers MUST key `path` by a fingerprint of the source data
    * (fixture mtime / snapshot version, the cluster-map discipline),
    * or a regenerated corpus would silently serve the stale layout.
    */
  def ensureZOrdered(df: => DataFrame, path: String, colA: String,
                     colB: String, numFiles: Int = 16, bits: Int = 20): Unit = {
    if (!Markers.exists(s"$path/_SUCCESS"))
      writeZOrdered(df, path, colA, colB, numFiles, bits)
  }

  /** K1d — XML sink (built into Spark since 4.0): the
    * enterprise-integration format — OData/SOAP estates often demand
    * XML exports of exactly the feeds this engine ingests. One
    * `rowTag` element per row, overwrite; same single-file contract
    * as [[writeCsv]].
    */
  def writeXml(df: DataFrame, path: String, rowTag: String = "row",
               singleFile: Boolean = true): Unit = {
    val out = if (singleFile) df.coalesce(1) else df
    out.write.mode("overwrite").option("rowTag", rowTag).format("xml").save(path)
  }

  /** Snapshot diff — the incremental view of the reference's
    * snapshot-refresh contract (etl.yml runs daily and overwrites;
    * the question a consumer actually asks is "what changed since
    * yesterday"). Rows keyed by `keyCols`; every non-key column feeds
    * a per-row fingerprint; output is one row per difference with
    * `change` ∈ added | removed | changed.
    *
    * Scale shape: each side shrinks to (keys, 128-bit fingerprint)
    * BEFORE the full-outer join, so the shuffle carries ~48 bytes/row
    * regardless of row width — diffing two 100 TB snapshots moves
    * 2·|keys| fingerprints, not the snapshots. The fingerprint
    * (md5 of the JSON row) only ever compares within one engine, so
    * no cross-engine canonical form is needed.
    */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame,
                   keyCols: Seq[String]): DataFrame = {
    require(oldSnap.columns.toSet == newSnap.columns.toSet,
      s"snapshots must share a column set; old=${oldSnap.columns.toSeq} new=${newSnap.columns.toSeq}")
    // fingerprint fields in the OLD snapshot's column order on both
    // sides, so a refresh that merely reordered columns diffs as
    // unchanged rows, not as 100% 'changed'
    val nonKey = oldSnap.columns.filterNot(keyCols.contains).toSeq
    def fingerprinted(df: DataFrame, as: String): DataFrame =
      df.select(keyCols.map(col) :+
        md5(to_json(struct(nonKey.map(col): _*))).as(as): _*)
    fingerprinted(oldSnap, "fp_old")
      .join(fingerprinted(newSnap, "fp_new"), keyCols, "full_outer")
      .withColumn("change",
        when(col("fp_old").isNull, "added")
          .when(col("fp_new").isNull, "removed")
          .when(col("fp_old") =!= col("fp_new"), "changed"))
      .where(col("change").isNotNull)
      .select(keyCols.map(col) :+ col("change"): _*)
  }

  /** [[snapshotDiff]] plus WHICH non-key columns differ — the question
    * a consumer asks right after "what changed". `changed_columns` is
    * the comma-joined, name-sorted list of differing columns
    * (null-safe compare) for `changed` rows; NULL for added/removed.
    *
    * Scale shape: the cheap fingerprint diff runs first and only its
    * `changed` KEYS (a tiny set next to the snapshots) pull wide rows
    * back through the column-compare join — diffing two 100 TB
    * snapshots still moves fingerprints, plus |changed| full rows,
    * never the snapshots.
    */
  def snapshotDiffDetail(oldSnap: DataFrame, newSnap: DataFrame,
                         keyCols: Seq[String]): DataFrame = {
    val base = snapshotDiff(oldSnap, newSnap, keyCols)
    val nonKey = oldSnap.columns.filterNot(keyCols.contains).toSeq.sorted
    val changedKeys = base.where(col("change") === "changed").select(keyCols.map(col): _*)
    val o = oldSnap.join(changedKeys, keyCols, "left_semi")
      .select(keyCols.map(col) ++ nonKey.map(c => col(c).as(s"_old_$c")): _*)
    val n = newSnap.join(changedKeys, keyCols, "left_semi")
      .select(keyCols.map(col) ++ nonKey.map(c => col(c).as(s"_new_$c")): _*)
    val detail = o.join(n, keyCols)
      .select(keyCols.map(col) :+
        array_join(
          filter(
            array(nonKey.map(c =>
              when(!(col(s"_old_$c") <=> col(s"_new_$c")), lit(c))): _*),
            x => x.isNotNull),
          ",").as("_changed_cols"): _*)
    base.join(detail, keyCols, "left")
      .select(keyCols.map(col) :+ col("change") :+
        when(col("change") === "changed", col("_changed_cols"))
          .as("changed_columns"): _*)
  }

  /** CDC merge: apply an out-of-order change log onto a base
    * snapshot — the Delta/Hudi MERGE shape. `changes` carries the key
    * columns, a monotone sequence column, an op column ('U' upsert /
    * 'D' delete), and the full payload for upserts. Per key the
    * HIGHEST sequence wins (ties break to 'U' over 'D', then it is on
    * the producer — a CDC stream with duplicate (key, seq, op) rows
    * has no defined order anywhere); deletes drop the key, upserts
    * replace the row, untouched base rows pass through an anti-join.
    *
    * Scale shape: the winner-per-key reduction is ONE max-struct hash
    * aggregate on the (small) change log — no window over the base;
    * the base moves through one anti-join keyed on the change log's
    * keys (broadcastable when the delta is small, the normal case).
    */
  def applyChangeLog(base: DataFrame, changes: DataFrame, keyCols: Seq[String],
                     seqCol: String, opCol: String): DataFrame = {
    val payload = base.columns.filterNot(keyCols.contains).toSeq
    // winner per key: max (seq, op, payload-struct) — op 'U' > 'D'
    // lexically, so an upsert outranks a delete at the same seq
    val latest = changes
      .groupBy(keyCols.map(col): _*)
      .agg(max(struct((col(seqCol) +: col(opCol) +: payload.map(col)): _*)).as("w"))
      .select(keyCols.map(col) :+ col(s"w.$opCol").as("_op") :+
        struct(payload.map(c => col(s"w.$c").as(c)): _*).as("_pl"): _*)
    val upserts = latest.where(col("_op") === "U")
      .select(keyCols.map(col) ++ payload.map(c => col(s"_pl.$c").as(c)): _*)
    base.join(latest.select(keyCols.map(col): _*), keyCols, "left_anti")
      .unionByName(upserts)
  }

  /** SCD type-2 history build from two snapshots: each key yields a
    * CLOSED version (valid_from = oldDate, valid_to = newDate,
    * is_current = false) when its row was removed or changed, and an
    * OPEN version (valid_to = null, is_current = true) for every row
    * in the new snapshot — with valid_from = newDate for added/changed
    * keys and oldDate for unchanged ones (they've existed since the
    * old snapshot).
    *
    * Scale shape: classification rides the [[snapshotDiff]]
    * fingerprint join (~48 bytes/row); wide rows then move only
    * through key-joins — the closed side pulls |removed ∪ changed|
    * old rows, the open side streams the new snapshot once with a
    * broadcast-friendly key flag join. Building the history of two
    * 100 TB snapshots never shuffles the snapshots on row content.
    */
  def scd2Build(oldSnap: DataFrame, newSnap: DataFrame, keyCols: Seq[String],
                oldDate: String, newDate: String): DataFrame = {
    val diff = snapshotDiff(oldSnap, newSnap, keyCols)
    val closeKeys = diff.where(col("change").isin("removed", "changed"))
      .select(keyCols.map(col): _*)
    val closed = oldSnap.join(closeKeys, keyCols, "left_semi")
      .withColumn("valid_from", to_date(lit(oldDate)))
      .withColumn("valid_to", to_date(lit(newDate)))
      .withColumn("is_current", lit(false))
    val freshKeys = diff.where(col("change").isin("added", "changed"))
      .select(keyCols.map(col) :+ lit(1).as("_fresh"): _*)
    val open = newSnap.join(freshKeys, keyCols, "left")
      .withColumn("valid_from",
        when(col("_fresh").isNotNull, to_date(lit(newDate)))
          .otherwise(to_date(lit(oldDate))))
      .withColumn("valid_to", lit(null).cast("date"))
      .withColumn("is_current", lit(true))
      .drop("_fresh")
    closed.unionByName(open)
  }

  /** Point-in-time dimension lookup against an [[scd2Build]] history:
    * each fact row joins the dimension VERSION in effect at its own
    * date — `valid_from <= fact_date < valid_to` (open versions have
    * null `valid_to`). The enrichment step every warehouse fact load
    * runs against a slowly-changing dimension.
    *
    * Scale shape: an EQUI-join on the dimension keys with the
    * validity window as a residual filter — versions per key are few
    * by construction (one per change), so the fan-out before the
    * residual is bounded by the version count, never a range-join
    * blow-up; the dimension broadcasts when small, shuffles on the
    * key otherwise (Catalyst's choice). Facts dated outside every
    * version's window (e.g. after their key was deleted) drop —
    * inner-join semantics, the honest answer for "this key did not
    * exist then".
    */
  def scd2Lookup(facts: DataFrame, dim: DataFrame, keyCols: Seq[String],
                 factDateCol: String): DataFrame =
    facts.join(dim, keyCols)
      .where(col("valid_from") <= col(factDateCol) &&
             (col("valid_to").isNull || col(factDateCol) < col("valid_to")))

  /** Incremental refresh: apply the [[snapshotDiff]] delta between two
    * snapshots onto the old one — delete removed/changed keys, insert
    * the new side's added/changed rows — and land EXACTLY on the new
    * snapshot. The MERGE the reference's overwrite-everything cron
    * never needed, but any consumer at scale does: only |delta| rows
    * move (the diff ships fingerprints; upserts semi-join the new
    * snapshot down to the changed keys; the untouched bulk of the old
    * snapshot passes through an anti-join untouched).
    */
  def incrementalApply(oldSnap: DataFrame, newSnap: DataFrame,
                       keyCols: Seq[String]): DataFrame = {
    val diff = snapshotDiff(oldSnap, newSnap, keyCols)
    val upserts = newSnap.join(
      diff.where(col("change").isin("added", "changed"))
        .select(keyCols.map(col): _*),
      keyCols, "left_semi")
    val touchedKeys = diff.select(keyCols.map(col): _*)
    oldSnap.join(touchedKeys, keyCols, "left_anti")
      .unionByName(upserts)
  }

  /** Schema drift between two snapshots — the metadata companion to
    * [[snapshotDiff]]: per column, `added` / `removed` / `kept` /
    * `type_changed`. The daily-cron reference assumes the server's
    * shape never moves; a real feed renames and retypes columns, and
    * this is the report that turns a silent breakage into a diff.
    * Schemas are driver-side metadata (hundreds of fields, not rows),
    * so building the report from `df.schema` is control-plane work at
    * any data scale — zero jobs touch the data.
    */
  def schemaDrift(oldSnap: DataFrame, newSnap: DataFrame): DataFrame = {
    val spark = oldSnap.sparkSession
    import spark.implicits._
    val o = oldSnap.schema.map(f => f.name -> f.dataType).toMap
    val n = newSnap.schema.map(f => f.name -> f.dataType).toMap
    (o.keySet ++ n.keySet).toSeq.sorted.map { c =>
      val status =
        if (!o.contains(c)) "added"
        else if (!n.contains(c)) "removed"
        else if (o(c) != n(c)) "type_changed"
        else "kept"
      (c, status)
    }.toDF("column_name", "status")
  }

  /** SCHEMA-ON-READ TYPE INFERENCE — the ingest profiler that turns
    * an all-VARCHAR landing table (CSV, JSON strings, schemaless
    * feeds) into typed columns: every value classifies by anchored
    * pattern (bool / int / float / timestamp-like / other), and the
    * column's inferred type is the STRICTEST type covering every
    * non-null value (one stray letter demotes a numeric column to
    * varchar — the demotion a silent cast would hide as nulls).
    * Complements [[schemaDrift]] (declared-schema diff) with the
    * value-level evidence.
    *
    * Determinism: pure counting over anchored regex classes (RE2-
    * and Java-compatible character classes — the qualityScore
    * portability rule); the float class accepts scientific notation
    * so engine-specific double rendering never flips a class.
    *
    * Scale shape: one Expand pass (|rows|·|cols| stacked values,
    * map-side combined) into a |cols|-row aggregate — inferring a
    * 100 TB landing table costs one scan, never one per column.
    */
  def inferTypes(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    val stacked = df.select(explode(array(cols.map(c =>
        struct(lit(c).as("col_name"), col(c).cast("string").as("v"))): _*))
      .as("s")).select(col("s.col_name").as("col_name"), col("s.v").as("v"))
    val isBool = lower(col("v")).isin("true", "false")
    val isInt = col("v").rlike("^-?[0-9]+$")
    val isFloat = col("v").rlike("^-?[0-9]+\\.[0-9]+([eE][+-]?[0-9]+)?$")
    val isDate = col("v").rlike(
      "^[0-9]{4}-[0-9]{2}-[0-9]{2}([ T][0-9]{2}:[0-9]{2}:[0-9]{2}(\\.[0-9]+)?)?$")
    val g = stacked.groupBy("col_name").agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_null"),
      sum(when(col("v").isNotNull && isBool, 1L).otherwise(0L)).as("n_bool"),
      sum(when(col("v").isNotNull && !isBool && isInt, 1L).otherwise(0L))
        .as("n_int"),
      sum(when(col("v").isNotNull && isFloat, 1L).otherwise(0L)).as("n_float"),
      sum(when(col("v").isNotNull && isDate, 1L).otherwise(0L)).as("n_date"))
    val nn = col("n_rows") - col("n_null")
    g.select(col("col_name"), col("n_rows"), col("n_null"), col("n_bool"),
      col("n_int"), col("n_float"), col("n_date"),
      (nn - col("n_bool") - col("n_int") - col("n_float") - col("n_date"))
        .as("n_other"),
      when(nn === 0, "unknown")
        .when(col("n_bool") === nn, "boolean")
        .when(col("n_int") === nn, "bigint")
        .when(col("n_int") + col("n_float") === nn, "double")
        .when(col("n_date") === nn, "timestamp")
        .otherwise("varchar").as("inferred_type"))
  }

  /** Materialize a snapshot as a key-hash-BUCKETED parquet table —
    * the physical layout [[applyCdcDelta]] upserts into. Bucket =
    * `pmod(xxhash64(key), numBuckets)` as a partition column, so a
    * change batch touches only the bucket directories its keys hash
    * into and everything else stays byte-identical (the
    * `TextAnalysis.appendBm25Delta` / `Similarity.appendIvfDelta`
    * layout applied to a warehouse table). The `<path>_commit/_SUCCESS`
    * marker is the serve gate: absent while any mutation is in flight.
    */
  def writeCdcTable(snap: DataFrame, keyCol: String, path: String,
                    numBuckets: Int = 16): Unit = {
    snap.withColumn("bucket", pmod(xxhash64(col(keyCol)), lit(numBuckets.toLong)))
      .repartition(col("bucket"))
      .write.mode("overwrite")
      .partitionBy("bucket").parquet(path)
    commitCdcMarker(snap.sparkSession, path, create = true)
  }

  /** Apply one ordered CDC batch to a [[writeCdcTable]] table IN
    * PLACE, rewriting only the affected buckets. Per batch: the
    * distinct bucket list (≤ numBuckets longs — the probed-cells
    * control-plane discipline, never row data) becomes a partition-
    * pruned read of current rows, [[applyChangeLog]] merges
    * winner-per-key, and a dynamic partition overwrite lands exactly
    * those buckets. A bucket whose rows were ALL deleted is absent
    * from the written data — dynamic overwrite would keep its stale
    * files, so emptied bucket dirs are deleted explicitly (the
    * appendBm25Delta emptied-bucket case). Batches must arrive in
    * change-log order (any CDC consumer's contract); within a batch
    * the seq/op winner rule resolves ties.
    *
    * Crash safety: the commit marker disappears before the first
    * mutation and reappears after, so a crash mid-upsert leaves a
    * marker-less table [[readCdcTable]] refuses to serve — rebuild
    * from snapshot + replay, never silently stale.
    */
  def applyCdcDelta(changes: DataFrame, keyCol: String, seqCol: String,
                    opCol: String, path: String,
                    numBuckets: Int = 16): Unit = {
    val spark = changes.sparkSession
    val bucketed = changes
      .withColumn("bucket", pmod(xxhash64(col(keyCol)), lit(numBuckets.toLong)))
      .localCheckpoint() // consumed twice (bucket list, merge)
    val affected = bucketed.select("bucket").distinct()
      .collect().map(_.getLong(0)).sorted
    val cur = spark.read.parquet(path)
      .where(col("bucket").isin(affected.toSeq: _*))
      .drop("bucket")
      .localCheckpoint() // materialize BEFORE overwriting what we read
    val merged = applyChangeLog(cur, bucketed.drop("bucket"),
        Seq(keyCol), seqCol, opCol)
      .withColumn("bucket", pmod(xxhash64(col(keyCol)), lit(numBuckets.toLong)))
      .localCheckpoint() // consumed twice (write, emptied-bucket list)
    commitCdcMarker(spark, path, create = false) // table now in-flux
    merged
      .repartition(col("bucket"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket").parquet(path)
    val written = merged.select("bucket").distinct()
      .collect().map(_.getLong(0)).toSet
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    affected.filterNot(written).foreach { b =>
      val dir = new org.apache.hadoop.fs.Path(s"$path/bucket=$b")
      if (fs.exists(dir)) fs.delete(dir, true)
    }
    commitCdcMarker(spark, path, create = true)
    Rounds.release(bucketed, cur, merged)
  }

  /** Serve the CDC table (bucket column dropped). Refuses a
    * marker-less table — that is a crashed maintenance run, not data.
    */
  def readCdcTable(spark: org.apache.spark.sql.SparkSession,
                   path: String): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new org.apache.hadoop.fs.Path(s"${path}_commit/_SUCCESS")),
      s"CDC table at $path has no commit marker (crashed maintenance?); " +
        "rebuild from snapshot + change-log replay")
    spark.read.parquet(path).drop("bucket")
  }

  private def commitCdcMarker(spark: org.apache.spark.sql.SparkSession,
                              path: String, create: Boolean): Unit = {
    val marker = new org.apache.hadoop.fs.Path(s"${path}_commit/_SUCCESS")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (create) fs.create(marker, true).close()
    else if (fs.exists(marker)) fs.delete(marker, false)
  }

  /** Deterministic pseudonymization for releasing an interaction
    * table into a training corpus: every identifier column is
    * replaced by a salted-md5 64-bit surrogate token (irreversible
    * without the salt, but join-PRESERVING — the same id maps to the
    * same token across tables released with the same salt), the
    * event timestamp is generalized to day granularity, and every
    * column NOT listed is dropped (suppression — free-text props and
    * raw ids never leave). The k-anonymity of the released
    * quasi-identifiers is audited separately by
    * [[Profiling.kAnonymityAudit]].
    *
    * Scale shape: map-only — one codegen'd projection, no shuffle,
    * no UDF (md5/concat/substr are built-ins). Determinism: md5 of
    * the decimal string form of the id, identical in any engine.
    */
  def pseudonymize(df: DataFrame, idCols: Seq[String], tsCol: String,
                   keep: Seq[String], salt: String = "graft"): DataFrame = {
    val tokens = idCols.map { c =>
      substring(md5(concat_ws("|", lit(salt), lit(c), col(c).cast("string"))), 1, 16)
        .as(s"${c}_token")
    }
    val day = to_date(col(tsCol)).as("day")
    df.select(tokens ++ (day +: keep.map(col)): _*)
  }

  /** Row-disposition ROUTER — the ingest-time triage every warehouse
    * loader runs: an ordered rule cascade sends each row to `valid`,
    * `quarantine` (fixable, hold for review) or `dead_letter`
    * (structurally broken), with FIRST-failing-rule attribution (the
    * c4FilterReport pattern on relational data) plus the full
    * per-rule flag vector so downstream triage sees every violation,
    * not just the one that cut. Map-only — one codegen'd projection,
    * any scale.
    *
    * `rules` are (reason, disposition, predicate) in priority order;
    * a row matching no rule is `valid` with a NULL reason.
    */
  def routeRows(df: DataFrame, idCol: String,
                rules: Seq[(String, String, Column)]): DataFrame = {
    require(rules.nonEmpty, "routeRows needs at least one rule")
    require(rules.forall(r => r._2 == "quarantine" || r._2 == "dead_letter"),
      s"dispositions must be quarantine|dead_letter: ${rules.map(_._2)}")
    val reason = rules.foldRight(lit(null).cast("string")) {
      case ((r, _, p), acc) => when(p, lit(r)).otherwise(acc) }
    val disp = rules.foldRight(lit("valid")) {
      case ((_, d, p), acc) => when(p, lit(d)).otherwise(acc) }
    df.select(col(idCol) +: disp.as("disposition") +: reason.as("reason") +:
      rules.map { case (r, _, p) =>
        coalesce(p.cast("boolean"), lit(false)).as(s"rule_$r") }: _*)
  }

  /** CONSISTENT-HASH shard assignment (the Karger ring with virtual
    * nodes) + the reshard-stability report: each key hashes onto the
    * 60-bit md5 ring and belongs to the clockwise-successor virtual
    * node's shard; adding a shard moves ONLY the keys whose arc the
    * new vnodes capture (expected `1/(n+1)` of them), while modular
    * `hash % n` resharding would move `n/(n+1)` — the property that
    * lets a 100 TB corpus grow its shard count without a full
    * re-layout. Output per key: its ring hash, shard under `nShards`
    * and under `nShards+1`, and the `moved` flag.
    *
    * Determinism: ring points are md5("shard|s|j") prefixes, key
    * hashes md5(key) — both replayed verbatim in SQL; successor
    * lookup is a range match against the SORTED ring with an explicit
    * wrap-around sentinel (keys past the last point belong to the
    * smallest point's shard), so ties and boundaries are exact, not
    * float.
    *
    * Scale shape: the ring is a ≤(n+1)·vnodes-row broadcast interval
    * table (lag window over a bounded frame); assignment is a
    * broadcast range join — one matching interval per key, map-only
    * on the corpus side. No shuffle touches the 100 TB.
    */
  def consistentShards(df: DataFrame, idCol: String, nShards: Int,
                       vnodes: Int): DataFrame = {
    require(nShards >= 1 && vnodes >= 1, s"need shards/vnodes: $nShards/$vnodes")
    import org.apache.spark.sql.expressions.Window
    val sp = df.sparkSession
    def hash60(c: Column) = graft.functions.TextFunctions.md5Prefix64(c)
    def intervals(n: Int): DataFrame = {
      val ring = sp.range(n.toLong * vnodes).select(
        expr(s"id div $vnodes").as("shard"),
        hash60(concat_ws("|", lit("shard"), expr(s"id div $vnodes"),
          pmod(col("id"), lit(vnodes)))).as("point"))
      // bounded ring: the lag window and the wrap sentinel both run
      // on ≤ n·vnodes rows (annotated control-plane)
      val w = Window.orderBy("point", "shard")
      val iv = ring.withColumn("lo", coalesce(lag(col("point"), 1).over(w), lit(-1L)))
      val wrap = ring.orderBy("point", "shard").limit(1)
        .crossJoin(ring.agg(max("point").as("mx")))
        .select(col("shard"), lit(Long.MaxValue).as("point"), col("mx").as("lo"))
      iv.select("shard", "point", "lo").unionByName(wrap)
    }
    val keyed = df.select(col(idCol).as("key"),
      hash60(col(idCol).cast("string")).as("h"))
    // CHAINED broadcast range joins (each key matches exactly one
    // interval per ring) — the corpus side stays map-only end to
    // end, no shuffle, no self-join
    def tagged(n: Int, tag: String) = intervals(n).select(
      col("shard").as(s"shard_$tag"), col("point").as(s"pt_$tag"),
      col("lo").as(s"lo_$tag"))
    keyed
      .join(broadcast(tagged(nShards, "before")),
        col("h") > col("lo_before") && col("h") <= col("pt_before"))
      .join(broadcast(tagged(nShards + 1, "after")),
        col("h") > col("lo_after") && col("h") <= col("pt_after"))
      .select(col("key"), col("h"), col("shard_before"), col("shard_after"),
        (col("shard_before") =!= col("shard_after")).as("moved"))
  }
}
