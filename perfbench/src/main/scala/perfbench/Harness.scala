package perfbench

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.cli.Cli
import graft.operators.{FfprobeProber, VideoPipeline}
import graft.sources.{DirectoryListing, Tsv}

/** Runs one workload of the benchmark in one JVM, one operation at a
  * time (a closed loop with one client), and writes its result JSON.
  *
  * Usage: Harness <plan.properties>. run.py writes the plan: the
  * workload's inputs, which it generated from the seed, and the outputs
  * each operation must produce. Every timed operation is one CLI verb
  * (`build`, `build --verbose`, `update`, `merge`, `report --verbose`)
  * or one pass over the curation queries, and its output is checked.
  */
object Harness {

  final class Plan(path: String) {
    private val p = new java.util.Properties()
    private val in = Files.newInputStream(Paths.get(path))
    try p.load(new java.io.InputStreamReader(in, "UTF-8")) finally in.close()
    def apply(k: String): String =
      Option(p.getProperty(k)).getOrElse(sys.error(s"plan has no $k"))
    def int(k: String): Int = apply(k).toInt
    def get(k: String): Option[String] = Option(p.getProperty(k))
    def list(k: String): Seq[String] = apply(k).split(',').toSeq.filter(_.nonEmpty)
    def lines(k: String): Seq[String] =
      scala.io.Source.fromFile(apply(k), "UTF-8").getLines().toSeq.filter(_.nonEmpty)
  }

  /** One operation's inputs and expected output, at one size. */
  final case class Op(kind: String, size: String)

  final class CheckFailed(msg: String) extends Exception(msg)

  private def check(ok: Boolean, what: => String): Unit =
    if (!ok) throw new CheckFailed(what)

  private def sha256(path: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(Files.readAllBytes(Paths.get(path))).map("%02x".format(_)).mkString

  /** Runs a CLI verb and returns what it printed. */
  private def cli(args: String*): String = {
    val buf = new ByteArrayOutputStream()
    val ps = new PrintStream(buf, true, "UTF-8")
    Console.withOut(ps)(Cli.main(args.toArray))
    ps.flush()
    buf.toString("UTF-8")
  }

  /** The data rows of each table `Dataset.show` printed, in order. */
  private def shownTables(out: String): Seq[Seq[String]] = {
    val tables = mutable.ArrayBuffer[Seq[String]]()
    var rows = mutable.ArrayBuffer[String]()
    var seps = 0
    out.linesIterator.foreach { l =>
      if (l.startsWith("+-")) {
        seps += 1
        if (seps == 3) { tables += rows.toSeq; rows = mutable.ArrayBuffer(); seps = 0 }
      } else if (l.startsWith("|") && seps == 2) rows += l
    }
    tables.toSeq
  }

  private def cells(row: String): Seq[String] =
    row.split('|').toSeq.drop(1).map(_.trim)

  private def dbLines(path: String): Seq[String] = {
    val text = new String(Files.readAllBytes(Paths.get(path)), "UTF-8")
    text.stripPrefix("﻿").split('\n').toSeq.filter(_.nonEmpty)
  }

  def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val plan = new Plan(argv(0))
    System.setProperty("graft.volume.label", "BENCH")
    val run = new Run(plan)
    try run.go() finally run.stop()
  }

  final class Run(plan: Plan) {
    val cpus = plan.int("cpus")
    val trace = plan("trace") == "1"
    val work = plan("work")
    val forkLog = plan("fork_log")
    val rng = new scala.util.Random(plan.int("seed").toLong)
    var spark: SparkSession = _
    val stats = new SparkStats
    val tracer = new Tracer
    var attempted = 0
    var failed = 0
    val failures = mutable.ArrayBuffer[String]()
    val metrics = mutable.LinkedHashMap[String, (Double, String)]()

    def stop(): Unit = if (spark != null) { spark.stop(); spark = null }

    def forks(): Int =
      if (!Files.exists(Paths.get(forkLog))) 0
      else Files.readAllLines(Paths.get(forkLog)).size

    // ------------------------------------------------------------ ops
    /** The timed parts of the current pass: each CLI verb, each query. */
    val parts = mutable.ArrayBuffer[(String, Double)]()
    val warmParts = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()

    /** Runs one operation; returns its wall seconds, or None when it
      * threw or its output check failed. */
    def runOp(op: Op): Option[Double] = {
      attempted += 1
      try {
        val s = opBody(op)
        if (op.kind != "query_mix") parts += ((op.kind, s))
        System.err.println(f"perfbench: ${op.kind}/${op.size} $s%.3f s")
        Some(s)
      } catch {
        case e: Exception =>
          failed += 1
          failures += s"${op.kind}/${op.size}: ${e.getClass.getSimpleName}: ${e.getMessage}"
          None
      }
    }

    private def timed(f: => Unit): Double = {
      val t0 = System.nanoTime
      f
      (System.nanoTime - t0) / 1e9
    }

    private def k(op: Op, key: String) = plan(s"${op.size}.$key")

    /** The operation itself: inputs are reset untimed, the verb is
      * timed, then its output is checked untimed. */
    def opBody(op: Op): Double = op.kind match {
      case "build" =>
        val db = s"$work/${op.size}-build.tsv"
        val s = timed(cli("build", k(op, "root"), "--db", db))
        check(sha256(db) == k(op, "build_sha"), s"build db digest of ${op.size}")
        s
      case "verbose_build" =>
        val db = s"$work/${op.size}-verbose.tsv"
        var out = ""
        val s = timed { out = cli("build", k(op, "root"), "--db", db, "--verbose") }
        check(sha256(db) == k(op, "build_sha"),
          s"verbose build db digest of ${op.size} differs from plain build's")
        val t = shownTables(out)
        check(t.length == 3, s"verbose build printed ${t.length} tables")
        check(t(0).length == math.min(100, k(op, "variants").toInt),
          s"variant report has ${t(0).length} rows, want ${k(op, "variants")}")
        val failedPaths = t(2).map(r => cells(r).head).sorted
        val corrupt = plan.lines(s"${op.size}.corrupt_list").sorted
        check(failedPaths == corrupt, s"failures report lists $failedPaths, want $corrupt")
        s
      case "update" =>
        val db = s"$work/${op.size}-update.tsv"
        Files.copy(Paths.get(k(op, "update_src")), Paths.get(db),
          StandardCopyOption.REPLACE_EXISTING)
        val s = timed(cli("update", k(op, "root"), "--db", db))
        val lines = dbLines(db)
        val want = k(op, "update_old").toInt + k(op, "update_delta").toInt
        check(lines.length == want, s"update wrote ${lines.length} rows, want $want")
        val paths = lines.map(_.split('\t').last)
        check(paths.distinct.length == paths.length, "update duplicated a path")
        check(lines == lines.sorted(Ordering[String].reverse), "update db not sorted")
        check(sha256(db) == k(op, "update_sha"), s"update db digest of ${op.size}")
        s
      case "merge" =>
        val db = s"$work/${op.size}-merged.tsv"
        val inputs = plan.lines(s"${op.size}.merge_list")
        val s = timed(cli(("merge" +: inputs) ++ Seq("--db", db): _*))
        val n = dbLines(db).length
        check(n == k(op, "merge_rows").toInt + 1, s"merge wrote $n lines")
        check(sha256(db) == k(op, "merge_sha"), s"merged db digest of ${op.size}")
        s
      case "report" =>
        var out = ""
        val s = timed { out = cli("report", "--db", k(op, "report_db"), "--verbose") }
        val t = shownTables(out)
        check(t.length == 2, s"report printed ${t.length} tables")
        check(t(0).length == math.min(1000, k(op, "report_groups").toInt),
          s"report has ${t(0).length} title groups, want ${k(op, "report_groups")}")
        check(t(1).length == math.min(10000, k(op, "report_details").toInt),
          s"report has ${t(1).length} detail rows, want ${k(op, "report_details")}")
        s
      case "parse_merge_inputs" =>
        // a generator check: each volume db reads back to its own rows
        timed(plan.lines(s"${op.size}.merge_list").foreach { p =>
          val n = Tsv.readReferenceTsv(spark, p).count()
          check(n == dbLines(p).length, s"$p reads back as $n rows")
        })
      case "query_mix" =>
        val dir = k(op, "fixture")
        rng.shuffle(plan.list("queries")).map(q => query(op, dir, q)).sum
    }

    /** One curation query, timed from call to collected rows. */
    def query(op: Op, dir: String, q: String): Double = {
      var rows: Array[org.apache.spark.sql.Row] = null
      val from = System.currentTimeMillis
      val s = timed { rows = graft.SparkEntry.queries(q)(spark, dir).collect() }
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val h = rows.foldLeft(0L) { (acc, r) =>
        acc + java.nio.ByteBuffer.wrap(md.digest(r.toString.getBytes("UTF-8"))).getLong
      }
      val got = s"${rows.length}:${java.lang.Long.toHexString(h)}"
      val want = plan(s"${op.size}.query.$q")
      check(got == want, s"query $q at ${op.size} gave $got, want $want")
      parts += ((q, s))
      querySplit(q, from, s)
      s
    }

    /** Per-query Spark counters of a traced pass. */
    val querySplits = mutable.LinkedHashMap[String, Map[String, Double]]()
    def querySplit(q: String, from: Long, s: Double): Unit = if (tracing) {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      querySplits(q) = stats.snapshot(from, System.currentTimeMillis) + ("s" -> s)
      stats.reset()
    }

    // ---------------------------------------------------------- set-up
    /** Session start and staging of the workload's inputs through the
      * program: the driver-side listing of each tree, the plans of the dbs
      * it reads, the query fixture's tables. */
    def setUp(): Double = timed {
      stop()
      spark = session(cpus)
      val size = plan("size")
      plan.get(s"$size.root").foreach(r => DirectoryListing.walk(spark, Seq(r)))
      Seq("update_src", "report_db").flatMap(x => plan.get(s"$size.$x"))
        .foreach(db => Tsv.readReferenceTsv(spark, db))
      plan.get(s"$size.fixture").foreach { dir =>
        Fixture.tables.foreach { t =>
          graft.Tables.getClass.getMethod(t, classOf[SparkSession], classOf[String])
            .invoke(graft.Tables, spark, dir)
        }
      }
    }

    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.isEmpty) Double.NaN
      else if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

    /** Generates the query fixtures a run needs and a previous run in
      * this checkout did not leave behind (input generation: untimed). */
    def fixtures(): Unit = plan.list("fixtures").foreach { spec =>
      val Array(dir, scale) = spec.split('=')
      val done = Paths.get(dir, "_COMPLETE")
      if (!Files.exists(done)) {
        if (spark == null) spark = session(cpus)
        val tmp = dir + ".tmp"
        Fixture.generate(spark, tmp, scale.toDouble)
        val old = new java.io.File(dir)
        if (old.exists) org.apache.commons.io.FileUtils.deleteDirectory(old)
        Files.move(Paths.get(tmp), Paths.get(dir))
        Files.createFile(done)
      }
    }

    def go(): Unit = {
      fixtures()
      val ops = plan.list("ops").map(Op(_, plan("size")))
      val setups = (1 to plan.int("setups")).map(_ => setUp())
      if (!trace) {
        // The first pass runs on a cold JVM. Warm-up passes follow for a
        // share of the time budget, while the JIT still speeds the verbs
        // up; the measured passes take the rest of it. op_mix_s sums, over
        // the pass's CLI verbs and queries, the median of each one's
        // measured times.
        val budget = plan("seconds").toDouble
        val warmUp = budget * plan("warmup_share").toDouble
        val minMeasured = plan.int("min_measured_passes")
        var t0 = 0L
        def elapsed = (System.nanoTime - t0) / 1e9
        var pass = 0
        var measured = 0
        while (pass == 0 || measured < minMeasured || elapsed < budget) {
          val measuring = pass > 0 && elapsed >= warmUp
          parts.clear()
          val times = ops.map(runOp)
          if (pass == 0) t0 = System.nanoTime
          if (measuring) {
            measured += 1
            if (times.forall(_.isDefined)) parts.foreach { case (name, s) =>
              warmParts.getOrElseUpdate(name, mutable.ArrayBuffer[Double]()) += s }
          }
          pass += 1
        }
        if (warmParts.nonEmpty)
          metrics("op_mix_s") = (warmParts.values.map(xs => median(xs.toSeq)).sum, "s")
        metrics("setup_s") = (median(setups), "s")
        metrics("peak_rss_mb") = (Proc.peakRssMb(), "MB")
        metrics("ops_ok_frac") = ((attempted - failed).toDouble / attempted, "fraction")
      } else traced(ops.map(_.kind).toSet)
      tracer.write(s"$work/trace.json")
      writeResult()
    }

    // ---------------------------------------------------------- traced
    var tracing = false
    val allOps = Seq("build", "verbose_build", "update", "merge", "report", "query_mix")

    private def put(name: String, v: Double, unit: String): Unit =
      metrics(name) = (v, unit)

    /** Each operation kind, at the workload's size if it is one of the
      * workload's and at the tiny size otherwise: once to warm up, once
      * traced, once untraced; then the layers one by one. */
    def traced(focus: Set[String]): Unit = {
      spark.sparkContext.addSparkListener(stats)
      val sizeOf = (kind: String) => if (focus(kind)) plan("size") else "tiny"
      runOp(Op("parse_merge_inputs", sizeOf("merge")))
      allOps.foreach { kind =>
        val op = Op(kind, sizeOf(kind))
        runOp(op)
        tracer.op = kind
        tracing = true
        val f0 = forks(); val c0 = Proc.childCpuS(); val w0 = Proc.wchar()
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        stats.reset(); querySplits.clear()
        val from = System.currentTimeMillis
        val (ok, wall) = tracer.span(s"cli.$kind")(runOp(op))
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        val to = System.currentTimeMillis
        tracing = false
        val sp: Map[String, Double] =
          if (kind != "query_mix") stats.snapshot(from, to)
          else querySplits.values.flatMap(_.toSeq).groupMapReduce(_._1)(_._2)(_ + _)
        Seq("jobs" -> "count", "tasks" -> "count", "run_s" -> "s", "cpu_s" -> "s",
          "gc_s" -> "s", "shuffle_mb" -> "MB", "fetch_wait_s" -> "s",
          "spill_mb" -> "MB", "driver_s" -> "s").foreach { case (m, u) =>
          put(s"spark.$kind.$m", sp.getOrElse(m, 0.0), u)
        }
        querySplits.foreach { case (q, v) =>
          put(s"query.$q.s", v("s"), "s")
          put(s"query.$q.driver_s", v("driver_s"), "s")
        }
        val forked = forks() - f0
        val childCpu = Proc.childCpuS() - c0
        val written = Proc.wchar() - w0
        val untraced = runOp(op)
        put(s"cli.$kind.s", wall, "s")
        put(s"cli.$kind.trace_overhead_s",
          wall - untraced.getOrElse(Double.NaN), "s")
        if (Seq("build", "verbose_build", "update").contains(kind)) {
          val probed = plan(s"${op.size}.${if (kind == "update") "update_probed" else "probed"}")
          put(s"operators.Probe.forks_per_file.$kind", forked.toDouble / probed.toDouble, "count/file")
          put(s"operators.Probe.child_cpu_s.$kind", childCpu, "s")
        }
        val db = kind match {
          case "build" => Some(s"$work/${op.size}-build.tsv")
          case "update" => Some(s"$work/${op.size}-update.tsv")
          case "merge" => Some(s"$work/${op.size}-merged.tsv")
          case _ => None
        }
        db.foreach(p => put(s"sources.Tsv.wchar_per_db_byte.$kind",
          written.toDouble / Files.size(Paths.get(p)), "B/B"))
      }
      layers()
    }

    /** Times the layers' public functions one at a time, each by
      * materialising its output (a noop write) with its inputs staged as
      * parquet, on the workload's tree (the tiny tree for the queries). */
    def layers(): Unit = {
      val size = if (plan.get(s"${plan("size")}.root").isDefined) plan("size") else "tiny"
      val root = plan(s"$size.root")
      val stage = s"$work/stage"
      def noop(df: => DataFrame): Double =
        timed(df.write.format("noop").mode("overwrite").save())
      def staged(name: String, df: DataFrame): DataFrame = {
        df.write.mode("overwrite").parquet(s"$stage/$name")
        spark.read.parquet(s"$stage/$name")
      }
      def layer(name: String)(f: => Double): Unit = {
        tracer.op = "layers"
        val (s, _) = tracer.span(name)(f)
        put(s"$name.s", s, "s")
      }
      val prober = new FfprobeProber()
      tracing = true
      stats.reset()
      layer("sources.DirectoryListing.walk")(noop(DirectoryListing.walk(spark, Seq(root))))
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      put("sources.DirectoryListing.walk.tasks_per_file",
        stats.snapshot(0, 0)("tasks") / plan(s"$size.files").toDouble, "count/file")
      tracing = false
      val listing = staged("listing",
        VideoPipeline.scanFilters(DirectoryListing.walk(spark, Seq(root))))
      val srt = staged("srt", DirectoryListing.srtListing(spark, Seq(root)))
      layer("operators.VideoPipeline.probeStage")(noop(VideoPipeline.probeStage(listing, prober)))
      val probed = staged("probed", VideoPipeline.probeStage(listing, prober))
      val ok = probed.filter(col("probe_error").isNull)
      layer("operators.VideoPipeline.deriveColumns")(noop(VideoPipeline.deriveColumns(ok)))
      val derived = staged("derived", VideoPipeline.deriveColumns(ok))
      layer("operators.VideoPipeline.withSubtitles")(noop(VideoPipeline.withSubtitles(derived, srt)))
      val built = staged("built", VideoPipeline.withSubtitles(derived, srt))
      val existing = staged("existing", built.select(col("path")).limit(
        math.max(1, (built.count() * 49 / 50).toInt)))
      layer("operators.VideoPipeline.novelFiles")(noop(VideoPipeline.novelFiles(listing, existing)))
      layer("operators.VideoPipeline.variants")(noop(VideoPipeline.variants(built)))
      layer("operators.VideoPipeline.variantDetails")(noop(VideoPipeline.variantDetails(built)))
      layer("operators.VideoPipeline.failures")(noop(VideoPipeline.failures(listing, prober)))
      layer("sources.Tsv.renderLines")(noop(Tsv.renderLines(built)))
      val lines = staged("lines", Tsv.renderLines(built))
      layer("sources.Tsv.sortLinesDesc")(noop(Tsv.sortLinesDesc(lines)))
      val sorted = staged("sorted", Tsv.sortLinesDesc(lines))
      val out = s"$stage/db.tsv"
      layer("sources.Tsv.writeSingleFile")(timed(Tsv.writeSingleFile(sorted, out)))
      layer("sources.Tsv.readReferenceTsv")(noop(Tsv.readReferenceTsv(spark, out)))
    }

    def writeResult(): Unit = {
      val out = Map(
        "correct" -> (failed == 0),
        "attempted" -> attempted,
        "failed" -> failed,
        "metrics" -> metrics.map { case (n, (v, u)) =>
          n -> Map("value" -> v, "unit" -> u) },
        "failures" -> failures.toSeq)
      Files.write(Paths.get(plan("result")), Json(out).getBytes("UTF-8"))
    }
  }
}
