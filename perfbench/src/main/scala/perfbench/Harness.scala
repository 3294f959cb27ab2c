package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Engine, Q, SparkEntry, Tables}
import graft.pipeline.{LocalDirFetcher, Processed, SlotPipeline, Stalled}

/** The benchmark's JVM side: runs one workload's warm-up and timed ops
  * against the compiled program and writes what it saw to a JSON file.
  * `run.py` generates the inputs, launches this, checks the outputs and
  * prints the result line.
  *
  * Arguments are `key=value`: workload, root (the run's temp root),
  * data, cores, ops, deadline_ms, trace (0|1), out, plus per-workload keys
  * (slot_catchup also takes warm, its warm-up tick count). */
object Harness {
  private def now(): Long = System.currentTimeMillis()

  def main(args: Array[String]): Unit = {
    val kv = args.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"argument $a is not key=value")
      a.take(i) -> a.drop(i + 1)
    }.toMap
    val root = kv("root")
    val cores = kv("cores").toInt
    val trace = kv("trace") == "1"
    // every path the program derives lands under the run's temp root
    sys.props("graft.io.dir") = s"$root/io"
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.local.dir", s"$root/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = if (trace) Some(new Tracer) else None
    tracer.foreach { t =>
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
    }
    val out = new Json
    try {
      kv("workload") match {
        case "slot_catchup" => slotCatchup(spark, kv, tracer, out)
        case "query_suite" => querySuite(spark, kv, tracer, out)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      out.num("rss_peak_mb", rssPeakMb())
    } finally spark.stop()
    Files.write(Paths.get(kv("out")), out.render.getBytes(UTF_8))
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  private def rssPeakMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
      }.getOrElse(-1.0)

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Times up to `ops` calls of `op` (given the op's index) with no
    * retry; records each latency, the first op's start and the timed wall.
    * No op starts after `deadline` (epoch ms) but the first, so a run that
    * overruns still ends in time and reports the ops it finished. With a
    * tracer, drains the listener bus after each op (outside its timing)
    * and hands the op's trace to `traced`. */
  private def timed(spark: SparkSession, out: Json, ops: Int, deadline: Long,
      tracer: Option[Tracer])(op: Int => Unit)(
      traced: (Int, Tracer.Op) => Unit): Unit = {
    val lat = mutable.ArrayBuffer.empty[Double]
    var busy = 0L
    val gc0 = gcMs()
    out.num("first_op_epoch_ms", now().toDouble)
    for (i <- 0 until ops if i == 0 || now() < deadline) {
      tracer.foreach(_.reset())
      val w0 = now()
      val t0 = System.nanoTime()
      op(i)
      val dt = System.nanoTime() - t0
      val w1 = now()
      busy += dt
      lat += dt / 1e6
      tracer.foreach { t =>
        PerfbenchBus.drain(spark.sparkContext)
        traced(i, t.op(w0, w1))
      }
    }
    out.nums("latency_ms", lat.toSeq)
    out.num("timed_wall_s", busy / 1e9)
    out.num("gc_ms", (gcMs() - gc0).toDouble)
  }

  // ---------------------------------------------------------------- slots

  private def slotCatchup(spark: SparkSession, kv: Map[String, String],
      tracer: Option[Tracer], out: Json): Unit = {
    val root = kv("root")
    val first = kv("first_slot").toLong
    val warm = kv("warm").toInt
    val ops = kv("ops").toInt
    val zipDir = kv("zips")
    val state = s"$root/state/meteosat.json"
    // the cursor starts one slot before the backlog: tick k processes
    // slot first + k * 900
    graft.pipeline.CursorStore.commit(Paths.get(state),
      Instant.ofEpochSecond(first - 900), Instant.ofEpochSecond(first))
    val nowI = Instant.ofEpochSecond(first + (warm + ops) * 900L)
    val catalog = spark.read.format("graft.sources.CatalogSource")
      .option("start", first.toString)
      .option("end", (first + (warm + ops) * 900L).toString).load()
    val source = Tables.t(spark, kv("data"), "events")
    val fetcher = if (tracer.isDefined) CountingFetcher(zipDir)
      else LocalDirFetcher(zipDir)
    val pipe = new SlotPipeline(spark, state, s"$root/published",
      Some(fetcher))
    val ticks = mutable.ArrayBuffer.empty[String]
    def tick(): Unit = {
      val r = pipe.tick(catalog, source, nowI)
      ticks += (r match {
        case Processed(slot, id, rows, blobs) =>
          s"Processed ${slot.getEpochSecond} $id $rows $blobs"
        case Stalled(slot) => s"Stalled ${slot.getEpochSecond}"
      })
    }
    for (_ <- 0 until warm) tick()
    val per = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    def add(k: String, v: Double) =
      per.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
    timed(spark, out, ops, kv("deadline_ms").toLong, tracer) { _ =>
      FetchCounters.reset()
      tick()
    } { (_, t) =>
      add("spark.jobs_per_op", t.jobs.toDouble)
      add("spark.tasks_per_op", t.tasks.toDouble)
      add("spark.task_cpu_ms_per_op", t.taskCpuMs)
      add("spark.driver_gap_ms_per_op", t.driverGapMs)
      add("blobs.fetch_calls_per_op", FetchCounters.calls.get.toDouble)
      add("blobs.fetch_ms_per_op", FetchCounters.nanos.get / 1e6)
      add("blobs.fetch_bytes_per_op", FetchCounters.bytes.get.toDouble)
      add("pipeline.publish_bytes_per_op", t.publishBytes.toDouble)
      add("pipeline.publish_files_per_op", t.publishFiles.toDouble)
    }
    out.strs("ticks", ticks.toSeq)
    out.obj("layers", per.map { case (k, v) => k -> mean(v) }.toMap)
  }

  // ---------------------------------------------------------------- index

  /** The index layer, measured beside the query suite in the traced run
    * only: one `Engine.dedupIngestBucketed` call over the generated
    * near-duplicate corpus (build, probe, freeze, append, auto-compact),
    * traced per slot, then the same loop replayed through the index's
    * public functions to time probe, append and compaction apart. Writes
    * both survivor sets for the manifest check. */
  private def indexLayers(spark: SparkSession, kv: Map[String, String],
      tracer: Tracer, out: Json): Map[String, Double] = {
    val root = kv("root")
    val docs = spark.read.parquet(kv("corpus")).cache()
    docs.count()
    val batches = kv("batches").toInt
    val table = "bench_idx"
    PerfbenchBus.drain(spark.sparkContext)
    tracer.reset()
    val w0 = now()
    val kept = Engine.dedupIngestBucketed(docs, "doc_id", "text",
      col("batch"), s"$root/index", table)
    val w1 = now()
    PerfbenchBus.drain(spark.sparkContext)
    val t = tracer.op(w0, w1)
    out.strs("ingest_survivors", Seq(kept.select("doc_id").collect()
      .map(_.getLong(0)).sorted.mkString(",")))
    val (layers, replayed) = replayIndex(spark, docs, root, table, batches)
    out.strs("replay_survivors", Seq(replayed.mkString(",")))
    layers ++ Map(
      "spark.jobs_per_slot" -> t.jobs.toDouble / batches,
      "spark.driver_gap_ms_per_slot" -> t.driverGapMs / batches,
      "spark.task_cpu_ms_per_slot" -> t.taskCpuMs / batches,
      "spark.shuffle_bytes_per_slot" -> t.shuffleBytes.toDouble / batches,
      "spark.input_bytes_per_slot" -> t.inputBytes.toDouble / batches)
  }

  /** The ingest loop replayed step by step through the index's public
    * functions, in the loop's order (probe → freeze → append → compact),
    * timing each. Returns the layer figures and the survivor ids, which
    * must equal the timed op's. */
  private def replayIndex(spark: SparkSession, docs: DataFrame, root: String,
      table: String, batches: Int): (Map[String, Double], Seq[Long]) = {
    var probeNs, appendNs, compactNs, pairs = 0L
    def clock[T](f: => T): (T, Long) = {
      val t0 = System.nanoTime(); val r = f; (r, System.nanoTime() - t0)
    }
    val acc = s"$root/replay/accepted"
    for (b <- 0 until batches) {
      val batch = docs.filter(col("batch") === b)
      val kept0 =
        if (b == 0) batch
        else {
          val (hits, ns) = clock(Engine.searchMinHashIndexBucketed(batch,
            "doc_id", "text", table).select("left_id").collect())
          probeNs += ns
          pairs += hits.length
          val dups = hits.map(_.getLong(0)).distinct.toSeq
          batch.filter(!col("doc_id").isin(dups: _*))
        }
      kept0.select("doc_id", "text").write.mode("overwrite")
        .parquet(s"$acc/batch=$b")
      val kept = spark.read.parquet(s"$acc/batch=$b")
      if (b == 0) Engine.buildMinHashIndexBucketed(kept, "doc_id", "text",
        table)
      else {
        appendNs += clock(Engine.appendMinHashIndexBucketed(kept, "doc_id",
          "text", table))._2
        compactNs += clock(Engine.maybeCompactBucketedIndex(spark, table))._2
      }
    }
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier(s"${table}_bands")))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(loc).count(s =>
      s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
    val survivors = spark.read.parquet(acc).select("doc_id").collect()
      .map(_.getLong(0)).toSeq.sorted
    (Map(
      "index.probe_ms" -> probeNs / 1e6,
      "index.append_ms" -> appendNs / 1e6,
      "index.compact_ms" -> compactNs / 1e6,
      "index.verified_pairs_per_slot" -> pairs.toDouble / batches,
      "index.files_after_op" -> files.toDouble), survivors)
  }

  // ---------------------------------------------------------------- queries

  /** The registry's modules, in `SparkEntry.registry` order. */
  private val modules: Seq[(String, Seq[Q])] = Seq(
    "sources.Sources" -> graft.sources.Sources.all,
    "streaming.Streams" -> graft.streaming.Streams.all,
    "operators.Projections" -> graft.operators.Projections.all,
    "operators.Joins" -> graft.operators.Joins.all,
    "operators.Aggregates" -> graft.operators.Aggregates.all,
    "operators.Windows" -> graft.operators.Windows.all,
    "operators.SetOps" -> graft.operators.SetOps.all,
    "operators.LlmPipeline" -> graft.operators.LlmPipeline.all,
    "operators.Multimodal" -> graft.operators.Multimodal.all,
    "pipeline.Capstone" -> graft.pipeline.Capstone.all,
    "functions.Scalars" -> graft.functions.Scalars.all,
    "functions.Udfs" -> graft.functions.Udfs.all)

  private def querySuite(spark: SparkSession, kv: Map[String, String],
      tracer: Option[Tracer], out: Json): Unit = {
    val dir = kv("data")
    val names = kv("queries").split(',').toSeq
    // the module list above must be the registry, or a new module would
    // go unmeasured without notice
    require(modules.flatMap(_._2.map(_.name)) ==
      SparkEntry.registry.map(_.name),
      "SparkEntry.registry no longer matches the benchmark's module list")
    val moduleOf = modules.flatMap { case (m, qs) => qs.map(_.name -> m) }
      .toMap
    // pipeline.Capstone's one query (q101) is the slot loop as a query;
    // the slot_catchup workload runs that loop itself
    val missing = modules.map(_._1).filterNot(m =>
      m == "pipeline.Capstone" || names.exists(moduleOf(_) == m))
    require(missing.isEmpty, s"no listed query from ${missing.mkString(", ")}")
    val build = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    def run(n: String): Unit =
      build(n)(spark, dir).write.format("noop").mode("overwrite").save()
    // warm-up: one pass to the timed ops' own sink
    names.foreach(run)
    // check pass: each query's output to parquet for the DuckDB oracle
    // compare, outside the timed window
    for (n <- names)
      build(n)(spark, dir).coalesce(1).write.mode("overwrite")
        .parquet(s"${kv("check")}/$n")
    out.obj("oracle_sql", names.map(n => n -> oracle(n)).toMap)
    val ops = kv("ops").toInt
    val deadline = kv("deadline_ms").toLong
    val per = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    def add(k: String, v: Double) =
      per.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
    val moduleMs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var done = 0
    timed(spark, out, ops, deadline, tracer) { i =>
      run(names(i % names.size))
    } { (i, t) =>
      val n = names(i % names.size)
      done += 1
      moduleMs(moduleOf(n)) += t.wallMs
      add("spark.jobs_per_query", t.jobs.toDouble)
      add("spark.planning_ms_per_query", t.planningMs.toDouble)
      add("spark.driver_gap_ms_per_query", t.driverGapMs)
      add("spark.task_cpu_ms_per_query", t.taskCpuMs)
      add("spark.shuffle_bytes_per_query", t.shuffleBytes.toDouble)
      if (n == "q30_hash_agg") {
        add(s"spark.max_stage_share.$n", t.maxStageShare)
        add(s"spark.max_stage_concurrency.$n", t.maxStageConcurrency)
      }
    }
    val layers = per.map { case (k, v) =>
      k -> (if (k.startsWith("spark.max_stage")) median(v) else mean(v))
    }.toMap ++ moduleMs.map { case (m, ms) =>
      s"$m.ms_per_pass" -> ms * names.size / done }
    // the index measurement takes about 50 s; it is left out of a run
    // that could not finish it in time
    val index = tracer.filter(_ => now() < deadline - 40000)
      .fold(Map.empty[String, Double])(indexLayers(spark, kv, _, out))
    out.obj("layers", layers ++ index)
  }

  private def mean(v: collection.Seq[Double]): Double =
    if (v.isEmpty) 0.0 else v.sum / v.size
  private def median(v: collection.Seq[Double]): Double = {
    val s = v.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Minimal JSON object writer for the harness's result file. */
final class Json {
  private val fields = mutable.ArrayBuffer.empty[String]
  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def n(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def num(k: String, v: Double): Unit = fields += s"${q(k)}: ${n(v)}"
  def nums(k: String, v: Seq[Double]): Unit =
    fields += s"${q(k)}: ${v.map(n).mkString("[", ", ", "]")}"
  def strs(k: String, v: Seq[String]): Unit =
    fields += s"${q(k)}: ${v.map(q).mkString("[", ", ", "]")}"
  def obj(k: String, v: Map[String, Any]): Unit =
    fields += s"${q(k)}: " + v.toSeq.sortBy(_._1).map {
      case (kk, d: Double) => s"${q(kk)}: ${n(d)}"
      case (kk, s) => s"${q(kk)}: ${q(s.toString)}"
    }.mkString("{", ", ", "}")
  def render: String = fields.mkString("{", ",\n", "}\n")
}
