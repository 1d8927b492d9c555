package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VideoFns

/** The reference's at-rest format: headerless tab-separated text,
  * utf-8-sig (BOM), ragged rows (audio fields omitted when absent),
  * whole-line descending sort (SURVEY.md §1.2, §2.6).
  *
  * Internally this engine stores typed Parquet; this layer exists ONLY at
  * the export/import edge for byte parity with the reference. Rendering
  * is a plain projection (scan-speed at any scale); the single-file
  * coalesce happens strictly at the presentation edge.
  */
object Tsv {

  /** Merge-header column names, exactly as the reference writes them
    * (video_metadata_db.py:1402-1421). */
  val headerColumns: Seq[String] = Seq(
    "Width", "Height", "Duration (in s)", "Size", "Raw Size",
    "Video Codec Name", "AV1/HEVC Compression Candidate",
    "Total # of Streams", "Container Name",
    "# of Audio Channels (@Index 0)", "Audio Codec Name (@Index 0)",
    "Title", "Ext. English Subtitle Availability",
    "Ext. English Subtitle Size",
    "Ext. Hearing Impaired English Subtitle Availability",
    "Ext. Hearing Impaired English Subtitle Size",
    "Volume Label", "Path on Drive Label")

  val headerLine: String = headerColumns.mkString("\t")

  private val TAB = "\t"

  /** Python "{:>N}" — right-justify, space fill, NO truncation. */
  private def rjust(c: Column, n: Int): Column = {
    val s = c.cast("string")
    when(length(s) >= n, s).otherwise(lpad(s, n, " "))
  }

  /** Render each built row (output of VideoPipeline.build, pre-sort) to
    * one reference-format line in a `line` column. Field order and every
    * quirk follow save_video_information (video_metadata_db.py:215-413):
    *  - width+height both present: each "{:>4}"-padded; a MISSING one is
    *    written as "0000" and a present-but-partnerless one is dropped
    *    (the reference's own else-branch behavior);
    *  - duration: concise h:m:s with "N/A" passthrough;
    *  - audio channel+codec fields OMITTED entirely when no audio stream
    *    (ragged row);
    *  - absent subtitle size written as a single space.
    */
  def renderLines(built: DataFrame): DataFrame = {
    val resPart =
      when(col("width").isNotNull && col("height").isNotNull,
        concat(rjust(col("width"), 4), lit(TAB), rjust(col("height"), 4), lit(TAB)))
      .otherwise(concat(
        when(col("width").isNull, lit("0000" + TAB)).otherwise(lit("")),
        when(col("height").isNull, lit("0000" + TAB)).otherwise(lit(""))))
    val durPart = VideoFns.durationDisplay(col("duration_raw"))
    val audioPart =
      when(col("audio_channels").isNotNull && col("audio_codec").isNotNull,
        concat(col("audio_channels").cast("string"), lit(TAB),
               col("audio_codec"), lit(TAB)))
      .otherwise(lit(""))
    val srtPart =
      when(col("srt_avail") === "Y",
        concat(lit("Y" + TAB), col("srt_size").cast("string"), lit(TAB)))
      .otherwise(lit("N" + TAB + " " + TAB))
    val hiPart =
      when(col("srt_hi_avail") === "Y",
        concat(lit("Y" + TAB), col("srt_hi_size").cast("string"), lit(TAB)))
      .otherwise(lit("N" + TAB + " " + TAB))
    built.select(concat(
      resPart,
      durPart, lit(TAB),
      VideoFns.sizeofFmtUdf(col("size_bytes")), lit(TAB),
      col("size_bytes").cast("string"), lit(TAB),
      col("video_codec"), lit(TAB),
      col("compression_candidate"), lit(TAB),
      col("nb_streams").cast("string"), lit(TAB),
      col("container"), lit(TAB),
      audioPart,
      col("title"), lit(TAB),
      srtPart,
      hiPart,
      col("volume"), lit(TAB),
      col("path_on_volume")).as("line"))
  }

  /** O1 byte-parity mode: whole-line lexicographic sort, descending (the
    * documented intent; the reference's Unix branch accidentally sorts
    * ascending — we implement the intent, README.md:89). */
  def sortLinesDesc(lines: DataFrame): DataFrame =
    lines.orderBy(col("line").desc)

  /** Single-file TSV export with utf-8-sig BOM and optional header,
    * assembled entirely through the Hadoop FileSystem API — `outFile`
    * may live on ANY configured store (`file:`, `hdfs:`, `s3a:`,
    * `abfs:`, ...): the distributed write lands its part files in a
    * hidden temp dir NEXT TO the destination (so parts and output share
    * a filesystem — never the driver's local disk), then the BOM +
    * header + parts are streamed through one `fs.create` output stream
    * (on an object store that is a multipart upload managed by the
    * connector) and the temp dir is deleted. The driver streams bytes
    * but never requires a local filesystem path.
    *
    * The TSV db is a reference-parity presentation artifact, not the
    * engine's at-rest format (that's parquet) — single-file assembly is
    * inherently a one-writer step; stores with a native server-side
    * concat (HDFS `concat`, S3 multipart-copy) could skip the driver
    * byte stream, at the cost of per-store code paths. */
  def writeSingleFile(lines: DataFrame, outFile: String,
                      withHeader: Boolean = false, withBom: Boolean = true): Unit = {
    import org.apache.hadoop.fs.Path
    val conf = lines.sparkSession.sparkContext.hadoopConfiguration
    val out = new Path(outFile)
    val fs = out.getFileSystem(conf)
    // no .crc sidecar next to the artifact: the checksum shadow file is
    // a LocalFileSystem quirk (object-store FSes checksum server-side),
    // and a stale sidecar would fail later reads of the re-exported db
    fs.setWriteChecksum(false)
    val parent = Option(out.getParent).getOrElse(new Path("."))
    val tmp = new Path(parent, s".${out.getName}.__graft_tmp__")
    fs.delete(tmp, true)
    try {
      lines.coalesce(1).write.mode("overwrite").text(tmp.toString)
      val parts = fs.listStatus(tmp).map(_.getPath)
        .filter(_.getName.startsWith("part-")).sortBy(_.getName)
      val os = fs.create(out, true)
      try {
        if (withBom) os.write(Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte))
        if (withHeader) os.write((headerLine + "\n").getBytes("UTF-8"))
        parts.foreach { p =>
          val is = fs.open(p)
          try org.apache.hadoop.io.IOUtils.copyBytes(is, os, 65536, false)
          finally is.close()
        }
      } finally os.close()
    } finally fs.delete(tmp, true)
  }

  /** S6: read a reference-format TSV back to typed columns. Tolerates the
    * ragged 16-field (audio-less) rows exactly like the reference's
    * star-unpack (video_metadata_db.py:1124), strips the BOM, trims every
    * field (F11). */
  def readReferenceTsv(spark: SparkSession, path: String): DataFrame =
    parseLines(readLines(spark, path).select(col("line").as("value")))

  /** The data lines of reference-format TSV files, as written, in a
    * `line` column: BOM stripped, header lines dropped. */
  def readLines(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)
      .select(regexp_replace(col("value"), "^\uFEFF", "").as("line"))
      .filter(col("line") =!= headerLine)

  /** Parse reference-format lines (a `value` string column) to typed
    * columns; header lines are dropped. */
  def parseLines(linesDf: DataFrame): DataFrame = {
    val raw = linesDf.filter(col("value") =!= headerLine)
    val f = split(col("value"), TAB)
    // try_element_at: a truncated line must yield nulls for its missing
    // fields, not fail the whole read (ANSI element_at throws)
    def fld(i: Column): Column = trim(try_element_at(f, i))
    // blank placeholders (" ", "") must read as null, not an ANSI cast error
    def num(c: Column, t: String): Column =
      when(c.rlike("^\\d+$"), c).otherwise(lit(null)).cast(t)
    // "0000" is the writer's missing-dimension SENTINEL
    // (video_metadata_db.py's else-branch, see renderLines) — decode it
    // back to null so parse∘render is the identity on dimensions: a
    // re-export of a parsed db must reproduce "0000", not right-pad a
    // fake literal zero width
    def dim(c: Column): Column =
      when(c === "0000", lit(null)).otherwise(num(c, "int"))
    // ragged: 18 fields with audio, 16 without; audio sits at 10/11
    val n = size(f)
    val shifted = (idx: Int) => // index for columns AFTER the audio pair
      when(n === 18, fld(lit(idx))).otherwise(fld(lit(idx - 2)))
    raw.select(
      dim(fld(lit(1))).as("width"),
      dim(fld(lit(2))).as("height"),
      fld(lit(3)).as("duration_display"),
      fld(lit(4)).as("size_display"),
      num(fld(lit(5)), "long").as("size_bytes"),
      fld(lit(6)).as("video_codec"),
      fld(lit(7)).as("compression_candidate"),
      num(fld(lit(8)), "int").as("nb_streams"),
      fld(lit(9)).as("container"),
      num(when(n === 18, fld(lit(10))).otherwise(lit(null)), "int").as("audio_channels"),
      when(n === 18, fld(lit(11))).otherwise(lit(null)).as("audio_codec"),
      shifted(12).as("title"),
      shifted(13).as("srt_avail"),
      num(shifted(14), "long").as("srt_size"),
      shifted(15).as("srt_hi_avail"),
      num(shifted(16), "long").as("srt_hi_size"),
      shifted(17).as("volume"),
      shifted(18).as("path_on_volume"))
  }
}
