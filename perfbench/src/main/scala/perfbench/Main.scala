package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.streaming.VersionedState
import graft.tools.ConfGuard
import org.apache.spark.sql.SparkSession

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** First and third quartile, exclusive method (Python's
    * `statistics.quantiles(xs, n=4)`); with one sample both are it. */
  def quartiles(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val n = s.length
    if (n < 2) return (s.headOption.getOrElse(Double.NaN), s.headOption.getOrElse(Double.NaN))
    def at(j: Int): Double = {
      val m = (n + 1) * j
      val i = math.min(math.max(m / 4, 1), n - 1)
      val d = (m - 4 * i).toDouble / 4
      s(i - 1) + (s(i) - s(i - 1)) * d
    }
    (at(1), at(3))
  }

}

/** A named metric with its samples; `value` is the median. */
final case class Metric(name: String, unit: String, samples: Seq[Double]) {
  def value: Double = Stats.median(samples)
}

/** Benchmark entry point: one workload, one seed, one JVM.
  *
  *   perfbench.Main --workload ingest|search|vector|refresh --seed N
  *                  --seconds S --trace 0|1 --work DIR
  *
  * Set-up runs several times (median reported as `setup_s`; on ingest it
  * runs once and includes the cold op 0). Then ops run
  * one after another from a single client thread, each wrapped in
  * `ConfGuard.withConfSnapshot`: op 0 (the cold one, `first_op_ms`), the
  * workload's warm-up ops, and measured ops until `--seconds` have passed
  * since the first measured one. Every op's
  * outputs are checked against the benchmark's own oracles after its
  * timing ends. With `--trace 1`, every other measured op is traced, so
  * the same run states the tracing overhead. The last
  * stdout line is the JSON result. */
object Main {

  val SpanLayers: Seq[String] = Seq("shred", "pipeline.pdf_to_download",
    "pipeline.download_and_store", "pipeline.merge_metadata",
    "pipeline.pdf_to_chunk", "pipeline.process_chunks",
    "pipeline.mark_chunked", "pipeline.update_category",
    "search.bm25", "search.vec",
    "streaming.dedup_merge", "streaming.search_merge")

  val SpanFields: Seq[(String, String)] = Seq("self_ms" -> "ms",
    "plan_ms" -> "ms", "codegen_ms" -> "ms", "task_cpu_ms" -> "ms",
    "stages" -> "count", "shuffle_bytes" -> "bytes",
    "spill_bytes" -> "bytes", "gap_ms" -> "ms")

  /** Per-layer counters other than the span splits, with units. */
  val Counters: Seq[(String, String)] = Seq(
    "sources.pdf_extract_ms" -> "ms", "sources.pdf_bytes" -> "bytes",
    "sources.pdf_empty" -> "count", "sources.put_calls" -> "count",
    "sources.store_files_scanned" -> "count",
    "functions.chunks_out" -> "count", "functions.chunks_per_label" -> "ratio",
    "search.bm25.tokens_scanned_per_result" -> "count",
    "search.cached_rdds" -> "count", "spark.cached_mb" -> "MB",
    "streaming.commit_bytes" -> "bytes", "streaming.write_amp" -> "ratio",
    "streaming.state_bytes" -> "bytes", "streaming.dup_recall" -> "ratio",
    "streaming.rebuild_signal" -> "count",
    "jvm.first_op_ms" -> "ms", "jvm.gc_ms" -> "ms", "jvm.heap_mb" -> "MB",
    "trace.overhead_pct" -> "%", "trace.coverage" -> "ratio")

  def session(work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def heapMb(): Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

  private def fmt(x: Double): String =
    if (x.isNaN || x.isInfinite) "0" else x.toString

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wlName = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    VersionedState.deleteTree(work)

    val jvmT0 = System.nanoTime()
    val spark = session(work)
    val sessionS = (System.nanoTime() - jvmT0) / 1e9
    val gen = new Gen(seed)
    val wl: Workload = wlName match {
      case "ingest" => new Ingest(spark, gen, 300, work)
      case "search" => new SearchWl(spark, gen, seed, 1500)
      case "vector" => new VectorWl(spark, gen, seed, 20000, 64)
      case "refresh" => new Refresh(spark, gen, seed, 600, 8, 60, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val setupS = (0 until wl.setups).map { _ =>
      val t0 = System.nanoTime(); wl.setup(); (System.nanoTime() - t0) / 1e9
    }

    val tracer = new Tracer(spark, wl.name, trace)
    tracer.on = false
    val gc0 = gcMs()
    val lat = mutable.ArrayBuffer.empty[Double]
    var coldMs = Double.NaN
    val traced = mutable.ArrayBuffer.empty[Boolean]
    val inWindow = mutable.ArrayBuffer.empty[Boolean]
    val counters = mutable.ArrayBuffer.empty[Map[String, Double]]
    val problems = mutable.ArrayBuffer.empty[String]
    var failed = 0
    // op 0 is the cold one; ops 1..warmOps warm the JIT and Spark's
    // caches; the measured window opens after them
    val first = 1 + wl.warmOps
    def measured(i: Int) = i >= first
    def tracedOp(i: Int) = trace && measured(i) && (i - first) % 2 == 1
    var t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = 0
    while (i < first + wl.minOps || elapsed < seconds) {
      if (i == first) t0 = System.nanoTime()
      wl.prepare(i)
      tracer.on = tracedOp(i)
      val s0 = System.nanoTime()
      val out = try Some(ConfGuard.withConfSnapshot(spark) {
        tracer.span(wl.opSpan)(wl.op(i, tracer))
      }) catch {
        case e: Exception => problems += s"op $i threw $e"; None
      }
      val ms = (System.nanoTime() - s0) / 1e6
      if (i == 0) coldMs = ms
      tracer.on = false
      out match {
        case Some(o) =>
          val (cs, bad) = try {
            val cs = o.counters(); (cs, o.check())
          } catch {
            case e: Exception => (Map.empty[String, Double], Seq(s"op $i check threw $e"))
          }
          counters += cs; lat += ms
          traced += tracedOp(i); inWindow += measured(i)
          if (bad.nonEmpty) { failed += 1; problems ++= bad.take(5) }
        case None => failed += 1
      }
      i += 1
    }
    val attempted = i
    val gcTotal = (gcMs() - gc0).toDouble
    val finals = wl.finalCounters()

    // ---- end-to-end figures (untraced ops only; op 0 is the cold one) ----
    val warm = lat.indices.filter(inWindow).filterNot(traced)
    val warmLat = warm.map(lat)
    val e2e = Seq(
      Metric("setup_s", "s",
        if (wl.coldOpIsSetup) Seq(setupS.sum + coldMs / 1000) else setupS),
      Metric("op_p50_ms", "ms", warmLat))

    // ---- per-layer figures from traced ops ----
    val spans = tracer.all
    val layer = mutable.LinkedHashMap.empty[String, Metric]
    for (l <- SpanLayers; (f, unit) <- SpanFields) {
      val ss = spans.filter(_.name == l)
      val xs = ss.map { s =>
        f match {
          case "self_ms" => tracer.selfMs(s)
          case "plan_ms" => s.stats.planMs
          case "codegen_ms" => s.codegenNs / 1e6
          case "task_cpu_ms" => s.stats.taskCpuNs / 1e6
          case "stages" => s.stats.stages.toDouble
          case "shuffle_bytes" => s.stats.shuffleBytes.toDouble
          case "spill_bytes" => s.stats.spillBytes.toDouble
          case "gap_ms" => tracer.gapMs(s)
        }
      }
      layer(s"$l.$f") = Metric(s"$l.$f", unit, xs)
    }
    val tracedIdx = lat.indices.filter(traced)
    val opSpans = spans.filter(_.name == wl.opSpan)
    val coverage = opSpans.map { p =>
      spans.filter(_.parent == p.id).map(_.durMs).sum / p.durMs
    }
    val fromPlans: Map[String, Seq[Double]] = opSpans
      .flatMap(p => wl.spanCounters(spans.filter(_.parent == p.id)))
      .groupMap(_._1)(_._2)
    val untracedMed = Stats.median(warmLat)
    val tracedMed = Stats.median(tracedIdx.map(lat))
    val extra: Map[String, Seq[Double]] =
      Counters.map(_._1).map(k => k -> tracedIdx.flatMap(j => counters(j).get(k))).toMap ++
        finals.map { case (k, v) => k -> Seq(v) } ++ fromPlans ++ Map(
        "jvm.first_op_ms" -> lat.take(1).toSeq,
        "jvm.gc_ms" -> Seq(gcTotal),
        "jvm.heap_mb" -> Seq(heapMb()),
        "trace.overhead_pct" ->
          (if (tracedIdx.isEmpty) Nil else Seq((tracedMed - untracedMed) / untracedMed * 100)),
        "trace.coverage" -> coverage)
    for ((k, unit) <- Counters) layer(k) = Metric(k, unit, extra.getOrElse(k, Nil))

    // ---- report ----
    println(f"perfbench ${wl.name} seed=$seed seconds=$seconds%.0f trace=${if (trace) 1 else 0}" +
      f" ops=$attempted failed=$failed session_start_s=$sessionS%.3f")
    println(f"${"metric"}%-44s ${"unit"}%-6s ${"median"}%12s ${"q1"}%12s ${"q3"}%12s ${"n"}%5s")
    def row(m: Metric): Unit =
      if (m.samples.isEmpty) println(f"${m.name}%-44s ${m.unit}%-6s ${"-"}%12s ${"-"}%12s ${"-"}%12s ${0}%5d")
      else {
        val (q1, q3) = Stats.quartiles(m.samples)
        println(f"${m.name}%-44s ${m.unit}%-6s ${m.value}%12.4f $q1%12.4f $q3%12.4f ${m.samples.length}%5d")
      }
    e2e.foreach(row)
    row(Metric("first_op_ms", "ms", lat.take(1).toSeq))
    println("op_ms: " + lat.map(x => f"$x%.0f").mkString(" "))
    row(Metric("failed_frac", "ratio", Seq(failed.toDouble / attempted)))
    if (trace) layer.values.foreach(row)
    wl.notes(counters.lastOption.getOrElse(Map.empty) ++ finals ++
      fromPlans.collect { case (k, xs) if xs.nonEmpty => k -> Stats.median(xs) })
      .foreach(n => println(s"note: $n"))
    if (trace) {
      println(f"note: tracing overhead ${tracedMed - untracedMed}%.1f ms per op " +
        f"(traced median $tracedMed%.1f ms, untraced $untracedMed%.1f ms); " +
        f"child spans cover ${Stats.median(coverage) * 100}%.1f%% of traced op wall time")
      tracer.write(work.getParent.resolve(s"trace/spans-${wl.name}-$seed.jsonl"))
    }
    problems.take(20).foreach(p => println(s"check failed: $p"))

    tracer.close()
    spark.stop()
    VersionedState.deleteTree(work)

    val shown = if (trace) layer.values.toSeq else e2e
    val metrics = shown.map(m =>
      s""""${m.name}": {"value": ${fmt(if (m.samples.isEmpty) 0.0 else m.value)}, "unit": "${m.unit}"}""")
      .mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$metrics}}""")
  }
}
