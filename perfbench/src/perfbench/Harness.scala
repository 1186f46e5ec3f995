package perfbench

import java.io.PrintWriter
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration
import graft.SparkEntry
import graft.pipeline._

/** Spark work attributed to one span: a (rep, call, phase) triple. */
final class Counters {
  var jobs, stages, tasks, cpuNs, shuffleRead, shuffleWrite, spill = 0L
}

/** Attributes every job, stage and task to the span named by the
  * [[Spans.Key]] local property of the thread that submitted the job. The
  * listener bus delivers events on one thread, so plain maps suffice; they
  * are read after `SparkSession.stop()` has drained the bus. */
final class SpanListener extends SparkListener {
  val counters = mutable.LinkedHashMap[String, Counters]()
  private val stageSpan = mutable.HashMap[Int, String]()
  private def of(span: String) = counters.getOrElseUpdate(span, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Spans.Key)))
      .getOrElse(Spans.Untagged)
    of(span).jobs += 1
    e.stageIds.foreach(stageSpan(_) = span)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    of(stageSpan.getOrElse(e.stageInfo.stageId, Spans.Untagged)).stages += 1

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = of(stageSpan.getOrElse(e.stageId, Spans.Untagged))
    c.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      c.cpuNs += m.executorCpuTime
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled
    }
  }
}

/** Tags the jobs of each phase when tracing is on, so [[SpanListener]] can
  * attribute them; with tracing off it adds nothing to a call. */
final class Spans(spark: SparkSession, val traced: Boolean) {
  val listener: Option[SpanListener] =
    if (traced) Some(new SpanListener) else None
  listener.foreach(spark.sparkContext.addSparkListener)

  def tag(span: String): Unit =
    if (traced) spark.sparkContext.setLocalProperty(Spans.Key, span)
}

/** Wall time of each phase of one call; the phases of a call are the
  * span `rep|call|phase`. */
final class Phases(spans: Spans, span: String) {
  val walls = mutable.LinkedHashMap[String, Double]()
  def apply[T](name: String)(f: => T): T = {
    spans.tag(s"$span|$name")
    val t0 = System.nanoTime()
    try f
    finally {
      walls(name) = walls.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
      spans.tag(null)
    }
  }
}

object Spans {
  val Key = "perfbench.span"
  val Untagged = "untagged"
}

/** Closed-loop client for the benchmark workloads. One client, this thread,
  * issues each call only after the previous one returned. It writes one
  * JSON record per line to `--out`; `run.py` aggregates and checks them.
  *
  * Timed reps run until `--seconds` have passed, and at least `MinReps`
  * run, so each call has that many warm samples.
  *
  * Args: --workload dlp_corpus|certify|<query workload> --seed N
  * --seconds S --trace 0|1 --data DIR --work DIR --out FILE
  * [--per-sit N] [--queries q01,q02,...] */
object Harness {
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private val MinReps = 2

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val cpus = Runtime.getRuntime.availableProcessors
    val work = Paths.get(opt("work")).toAbsolutePath
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.scheduler.listenerbus.eventqueue.capacity", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val out = new PrintWriter(Files.newBufferedWriter(Paths.get(opt("out"))))
    val spans = new Spans(spark, opt.getOrElse("trace", "0") == "1")
    val deadlineS = opt.getOrElse("seconds", "10").toDouble
    val seed = opt.getOrElse("seed", "1").toLong
    emit(out, "meta", "cpus" -> cpus, "workload" -> workload, "seed" -> seed,
      "session_s" -> sinceJvmStart())
    try workload match {
      case "dlp_corpus" =>
        dlp(spark, spans, out, seed, opt("per-sit").toInt, work.resolve("out"),
          deadlineS)
      case "certify" =>
        ops(spark, spans, out, opt("data"), SparkEntry.queries.keys.toSeq, seed,
          deadlineS = 0, warm = false)
      case _ =>
        ops(spark, spans, out, opt("data"), opt("queries").split(",").toSeq,
          seed, deadlineS, warm = true)
    } finally {
      spark.stop()
      spans.listener.foreach(_.counters.foreach { case (span, c) =>
        emit(out, "counters", "span" -> span, "jobs" -> c.jobs,
          "stages" -> c.stages, "tasks" -> c.tasks, "task_cpu_s" -> c.cpuNs / 1e9,
          "shuffle_read_bytes" -> c.shuffleRead,
          "shuffle_write_bytes" -> c.shuffleWrite, "spill_bytes" -> c.spill)
      })
      // The fixed-work host canary runs after the timed region, so it never
      // adds to setup_s; it lets cross-window drift be read, not gated.
      emit(out, "canary", "s" -> canary())
      out.close()
    }
  }

  // ---------------------------------------------------------------- ops

  /** The oracle queries. Rep 0 is the cold pass: it pays every one-time
    * cost (session warm-up, `MemoParquet` builds), and its execution
    * collects each result for the order-independent hash. Reps 1.. are
    * timed; each runs the queries in a seeded order, and the loop stops at
    * the first call past the deadline once `MinReps` reps are complete. */
  private def ops(spark: SparkSession, spans: Spans, out: PrintWriter,
                  dataDir: String, names: Seq[String], seed: Long,
                  deadlineS: Double, warm: Boolean): Unit = {
    val fns = names.map(n => n -> SparkEntry.queries(n))
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    def memoDirs(): Set[String] = {
      val s = Files.list(tmp)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("graft_memo_")).toSet
      finally s.close()
    }
    def one(rep: Int, name: String, fn: (SparkSession, String) => DataFrame): Unit = {
      val ph = new Phases(spans, s"$rep|$name")
      val memoBefore = if (rep == 0) memoDirs() else Set.empty[String]
      val qs = spark.newSession()
      val t0 = System.nanoTime()
      val fields = mutable.ArrayBuffer[(String, Any)]("rep" -> rep, "call" -> name)
      try {
        val df = ph("construction")(fn(qs, dataDir))
        ph("planning") {
          df.queryExecution.optimizedPlan
          df.queryExecution.executedPlan
        }
        if (rep > 0) fields += "rows" -> ph("execution")(df.queryExecution.toRdd.count())
        else {
          val rows = ph("execution")(df.collect())
          fields ++= Seq("rows" -> rows.length, "hash" -> resultHash(rows),
            "memo" -> (memoDirs() -- memoBefore).nonEmpty)
        }
      } catch { case e: Throwable => fields += "error" -> e.toString.take(300) }
      fields ++= Seq("wall" -> (System.nanoTime() - t0) / 1e9, "phases" -> ph.walls.toMap)
      emit(out, "call", fields.toSeq: _*)
      qs.catalog.clearCache()
    }
    fns.foreach { case (n, f) => one(0, n, f) }
    if (warm) {
      emit(out, "setup", "setup_s" -> sinceJvmStart())
      val t0 = System.nanoTime()
      def more(rep: Int) = rep <= MinReps || (System.nanoTime() - t0) / 1e9 < deadlineS
      var rep = 1
      while (more(rep)) {
        System.gc()
        new scala.util.Random(seed * 1000003L + rep).shuffle(fns).iterator
          .takeWhile(_ => more(rep)).foreach { case (n, f) => one(rep, n, f) }
        rep += 1
      }
    }
  }

  // ---------------------------------------------------------------- dlp

  /** The four-stage pipeline in `graft.PipelineDemo`'s call sequence, with
    * an output directory, and no cache or count that PipelineDemo does not
    * have. Each stage's calls form one span, so a stage's Spark work lands
    * where the program runs it: the lazy stages (`ContentGen`,
    * `PostProcess.derive`) are computed inside the spans that first force
    * them (`Validator.formatReport` and the export's writes). Rep 0 is the
    * cold rep; reps 1.. are timed until the deadline. Before every rep the
    * previous rep's output is deleted and the file system synced, outside
    * the timed region, so no rep pays for another's unflushed writes. */
  private def dlp(spark: SparkSession, spans: Spans, out: PrintWriter,
                  seed: Long, perSit: Int, outDir: Path, deadlineS: Double): Unit = {
    val cfg = PipelineConfig.scaled(perSit).copy(randomSeed = seed)
    val dir = outDir.toString
    def rep(r: Int): Unit = {
      deleteTree(outDir)
      sync(outDir.getParent)
      System.gc()
      def stage[T](name: String)(body: => T): T = {
        val ph = new Phases(spans, s"$r|$name")
        val t0 = System.nanoTime()
        try ph("call")(body)
        finally emit(out, "call", "rep" -> r, "call" -> name,
          "wall" -> (System.nanoTime() - t0) / 1e9)
      }
      val check = mutable.ArrayBuffer[(String, Any)]("rep" -> r)
      try {
        val (docs, nDocs) = stage("MetaGen") {
          val docs = MetaGen.docs(spark, cfg).cache()
          (docs, docs.count())
        }
        val (corpus, mapping) = stage("ContentGen") {
          val corpus = ContentGen.corpus(docs).cache()
          (corpus, ContentGen.mappingFromCorpus(corpus))
        }
        val (derived, finalMapping) = stage("PostProcess.derive") {
          val derived = PostProcess.derive(corpus)
          (derived, PostProcess.updateMapping(mapping, derived))
        }
        val text = stage("Validator") {
          val (report, means, issues) = Validator.run(
            finalMapping, corpus.select("filename", "text"), cfg.sitDim(spark).toDF())
          Validator.formatReport(report, means, issues, cfg.perSitCount)
        }
        stage("PostProcess.export")(exportAll(spark, corpus, derived, finalMapping, text, dir))
        val sitDocs = "(?m)^(\\S+): docs=(\\d+),".r.findAllMatchIn(text)
          .map(_.group(2).toLong).toSeq
        check ++= Seq("docs" -> nDocs, "docs_needed" -> MetaGen.docsNeeded(cfg),
          "sits" -> sitDocs.size, "min_sit_docs" -> sitDocs.minOption.getOrElse(0L),
          "warnings" -> "WARNING".r.findAllMatchIn(text).size,
          "report_hash" -> hex(MurmurHash3.stringHash(text).toLong),
          "files" -> walk(outDir.resolve("files")).size,
          "expected_files" -> (3 * nDocs +
            docs.filter(col("format").isin("email", "email_with_attachment")).count()),
          "bytes_written" -> walk(outDir).map(Files.size).sum)
        if (r == 0) check += "corpus_hash" -> hex(corpus.select(bit_xor(
          xxhash64(col("doc_id"), col("filename"), col("text")))).head().getLong(0))
      } catch { case e: Throwable => check += "error" -> e.toString.take(300) }
      emit(out, "dlp", check.toSeq: _*)
      spark.catalog.clearCache()
    }
    rep(0)
    emit(out, "setup", "setup_s" -> sinceJvmStart())
    val t0 = System.nanoTime()
    var r = 1
    while (r <= MinReps || (System.nanoTime() - t0) / 1e9 < deadlineS) { rep(r); r += 1 }
    deleteTree(outDir)
    sync(outDir.getParent)
  }

  /** The output section of `graft.PipelineDemo`: corpus text files, the
    * derived docx/pdf/eml files, the final mapping as CSV and XLSX (written
    * in one task through the Hadoop FileSystem API), and the validation
    * report. */
  private def exportAll(spark: SparkSession, corpus: DataFrame, derived: DataFrame,
                        finalMapping: DataFrame, reportText: String, dir: String): Unit = {
    graft.sink.DocSink.writeTextFiles(corpus, s"$dir/files")
    PostProcess.export(derived, s"$dir/files")
    finalMapping.coalesce(1).write.mode("overwrite")
      .option("header", "true").csv(s"$dir/mapping_csv")
    val header = finalMapping.columns.toSeq
    val xlsxPath = Paths.get(dir, "mapping_final.xlsx").toAbsolutePath.toString
    val hconf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    finalMapping.coalesce(1).foreachPartition { (it: Iterator[Row]) =>
      val rows = header +: it.map(_.toSeq.map(v => if (v == null) "" else v.toString)).toSeq
      val p = new org.apache.hadoop.fs.Path(xlsxPath)
      val os = p.getFileSystem(hconf.value).create(p, true)
      try os.write(graft.sink.MiniFormats.xlsxBytes(rows)) finally os.close()
    }
    Files.writeString(Paths.get(dir, "validation_report.txt"), reportText)
  }

  // ---------------------------------------------------------------- helpers

  /** Order-independent hash of a result: rows are normalised (doubles to 9
    * significant digits, map entries sorted), hashed, and summed. */
  def resultHash(rows: Array[Row]): String = {
    def norm(v: Any): String = v match {
      case null => "null"
      case d: Double =>
        if (d.isNaN || d.isInfinite) d.toString
        else new java.math.BigDecimal(d).round(new java.math.MathContext(9))
          .stripTrailingZeros.toString
      case f: Float => norm(f.toDouble)
      case b: java.math.BigDecimal => b.stripTrailingZeros.toString
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case r: Row => r.toSeq.map(norm).mkString("(", ",", ")")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => norm(k) + "->" + norm(x) }.sorted.mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
      case o => o.toString
    }
    val sum = rows.foldLeft(0L) { (acc, r) =>
      val s = norm(r)
      acc + ((MurmurHash3.stringHash(s, 1).toLong << 32) ^
        (MurmurHash3.stringHash(s, 2).toLong & 0xffffffffL))
    }
    hex(sum)
  }

  private def hex(x: Long): String = f"$x%016x"

  private def sinceJvmStart(): Double =
    (System.currentTimeMillis() - jvmStartMs) / 1e3

  private def walk(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else { val s = Files.walk(p); try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close() }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toList.reverse.foreach(Files.delete) finally s.close()
  }

  private def sync(p: Path): Unit = {
    Files.createDirectories(p)
    new ProcessBuilder("sync", "-f", p.toString).inheritIO().start().waitFor()
  }

  /** Fixed-work single-thread kernel (the one `graft.Bench` times, at an
    * eighth of its steps); median of three. */
  private def canary(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var h = 0x9e3779b97f4a7c15L
      var i = 0L
      while (i < (1L << 27)) {
        h = (h ^ (h >>> 29)) * 0xbf58476d1ce4e5b9L
        h ^= h >>> 32
        i += 1L
      }
      if (h == 42L) System.err.println("canary collision")
      (System.nanoTime() - t0) / 1e9
    }
    Seq.fill(3)(once()).sorted.apply(1)
  }

  private def json(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case m: Map[_, _] => m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case o => o.toString
  }

  private def emit(out: PrintWriter, kind: String, fields: (String, Any)*): Unit = {
    out.println(json(Map("type" -> kind) ++ fields))
    out.flush()
  }
}
