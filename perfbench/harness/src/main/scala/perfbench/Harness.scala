package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run inside one JVM, driven by `perfbench/run.py`:
  *
  *  1. `setups` times: start a session through `graft.GraftSession` with
  *     `graft.GraftExtensions`, then a warm-up pass over the workload. The
  *     first warm-up writes every output as parquet for the DuckDB check
  *     and records its digest.
  *  2. `passes` timed passes: each query once per pass, in an order
  *     shuffled from the seed, one query in flight, each output
  *     materialized by a `noop` write and its digest compared.
  *  3. With tracing, every other timed pass runs with the [[Probe]]
  *     installed; then the kernel rates and the curation scaling check.
  *
  * Arguments are `key=value` pairs; the result is one JSON file (`out`). */
object Harness {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  /** Epoch milliseconds at nanosecond resolution, on the clock Spark's
    * listener events use. */
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  final case class Conf(args: Map[String, String]) {
    def apply(k: String): String = args(k)
    val queries: Seq[String] = args("queries").split(',').toSeq
    val seed: Long = args("seed").toLong
    val cores: Int = args("cores").toInt
    val trace: Boolean = args("trace") == "1"
    val deadlineMs: Double = args("deadline_ms").toDouble
  }

  final case class Outcome(name: String, wall: Double, ok: Boolean, err: String,
                           trace: Option[QueryTrace], logicalNodes: Int)

  final class Run(c: Conf) {
    var spark: SparkSession = _
    val digests = mutable.Map.empty[String, Digest]
    val spans = mutable.ArrayBuffer.empty[Span]

    def startSession(): Unit = {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      spark = graft.GraftSession.builder(s"local[${c.cores}]", c.cores, "perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.extensions", "graft.GraftExtensions")
        .config("spark.local.dir", c("work") + "/local")
        .config("spark.sql.warehouse.dir", c("work") + "/warehouse")
        .config("spark.sql.streaming.checkpointLocation", c("work") + "/checkpoints")
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
    }

    /** Runs one query; `check` writes its output for the DuckDB compare and
      * records the digest every later run of the query must reproduce. */
    def runQuery(name: String, dataDir: String, check: Boolean,
                 probe: Option[Probe], request: String): Outcome = {
      probe.foreach(_.reset())
      val t0 = nowMs
      var (t1, t2) = (t0, t0)
      var nodes = 0
      val (ok, err) = try {
        val df = graft.SparkEntry.queries(name)(spark, dataDir)
        t1 = nowMs
        val (observed, obs) = Digest.observe(df)
        if (check) observed.write.mode("overwrite").parquet(c("check_dir") + "/" + name)
        else observed.write.format("noop").mode("overwrite").save()
        t2 = nowMs
        val d = Digest.of(obs)
        if (probe.isDefined)
          nodes = df.queryExecution.analyzed.collectWithSubqueries { case p => p }.size
        if (check) digests(name) = d
        digests.get(name) match {
          case Some(ref) if ref.matches(d) => (true, "")
          case Some(ref) => (false, s"digest $d differs from the checked $ref")
          case None => (false, "no checked digest: the check pass failed")
        }
      } catch {
        case e: Throwable =>
          t2 = nowMs
          (false, e.toString.linesIterator.take(3).mkString(" "))
      }
      val tr = probe.map(_.close(request, t0, t1, t2))
      tr.foreach(spans ++= _.spans)
      Outcome(name, (t2 - t0) / 1e3, ok, err, tr, nodes)
    }

    def order(pass: Int): Seq[String] =
      new scala.util.Random(c.seed * 1000003L + pass).shuffle(c.queries)

    def pass(label: String, index: Int, check: Boolean, traced: Boolean): Map[String, Any] = {
      val probe = if (traced) Some(new Probe(spark)) else None
      probe.foreach(_.install())
      val gc0 = gcSeconds
      val t0 = nowMs
      val outs = order(index).map(q =>
        runQuery(q, c("data"), check, probe, s"${c("workload")}/$label/$q"))
      val wall = (nowMs - t0) / 1e3
      val gc = gcSeconds - gc0
      probe.foreach(_.uninstall())
      val heap = if (c.trace) heapAfterGcMb() else Double.NaN
      Map("label" -> label, "traced" -> traced, "wall_s" -> wall, "gc_s" -> gc,
        "heap_after_gc_mb" -> heap, "queries" -> outs.map(outcomeJson))
    }
  }

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  def heapAfterGcMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  def outcomeJson(o: Outcome): Map[String, Any] = Map(
    "name" -> o.name, "wall_s" -> o.wall, "ok" -> o.ok, "err" -> o.err) ++
    o.trace.map { t => Map("layers" -> (t.counts ++ (if (o.logicalNodes > 0)
      Map("api.logical_nodes" -> o.logicalNodes.toDouble) else Map.empty)),
      "outside_ms" -> t.outsideMs) }.getOrElse(Map.empty)

  def main(args: Array[String]): Unit = {
    val c = Conf(args.map { a => val Array(k, v) = a.split("=", 2); k -> v }.toMap)
    val run = new Run(c)
    val setupStart = nowMs
    val setups = (1 to c("setups").toInt).map { i =>
      val t0 = nowMs
      run.startSession()
      val started = nowMs
      val warm = run.pass(s"setup$i", -i, check = i == 1, traced = false)
      Map("start_s" -> (started - t0) / 1e3, "warmup_s" -> (nowMs - started) / 1e3,
        "total_s" -> (nowMs - t0) / 1e3, "pass" -> warm)
    }
    // oracle SQL for the DuckDB check, keyed like the check outputs
    val oracle = c.queries.map(q => q -> graft.SparkEntry.oracleSql.getOrElse(q, "")).toMap

    // a fixed number of passes per workload (run.py sizes it to `seconds`),
    // so every run of a workload takes the same number of latency samples;
    // near the deadline it stops early, and run.py notes the short run
    val timed = mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0 = nowMs
    var last = 0.0
    while (timed.size < c("passes").toInt && (timed.isEmpty || nowMs + last < c.deadlineMs)) {
      val p0 = nowMs
      timed += run.pass(s"pass${timed.size}", timed.size,
        check = false, traced = c.trace && timed.size % 2 == 1)
      last = nowMs - p0
    }
    val timedEnd = nowMs
    val extra: Map[String, Any] = if (!c.trace) Map.empty else {
      val kernels = c.args.get("kernel_data").map(Kernels.run(run.spark, _, c.cores))
        .getOrElse(Nil)
      // the copied-corpus queries once over k=1, for the scaling check
      val scale = c.args.get("scale_data").map { dir =>
        val probe = new Probe(run.spark)
        probe.install()
        val outs = c("scale_queries").split(',').toSeq.map(q => run.runQuery(q, dir,
          check = false, Some(probe), s"${c("workload")}/k1/$q"))
        probe.uninstall()
        outs.map(o => o.name -> o.trace.map(_.counts.getOrElse("exec.input_rows", 0.0))
          .getOrElse(0.0)).toMap
      }.getOrElse(Map.empty)
      Map("kernels" -> kernels.toMap, "k1_input_rows" -> scale)
    }
    val phases = Map("setups_s" -> (t0 - setupStart) / 1e3,
      "timed_s" -> (timedEnd - t0) / 1e3, "trace_extra_s" -> (nowMs - timedEnd) / 1e3)
    run.spark.stop()

    val result = Map("phases" -> phases, "setups" -> setups, "passes" -> timed.toSeq,
      "passes_requested" -> c("passes").toInt, "oracle_sql" -> oracle) ++ extra
    Files.write(Paths.get(c("out")), Json(result).getBytes(UTF_8))
    if (c.trace) Files.write(Paths.get(c("spans")), run.spans.map { s =>
      Json(Map("request" -> s.request, "name" -> s.name, "parent" -> s.parent,
        "start_ms" -> s.start, "end_ms" -> s.end))
    }.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}

/** Minimal JSON writer; numbers print locale-independently. */
object Json {
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case ch if ch < ' ' => "\\u%04x".formatLocal(java.util.Locale.ROOT, ch.toInt)
    case ch => ch.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
  }
}
