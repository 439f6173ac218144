package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftSession

/** The benchmark's JVM side: one process, one `local[cores]` session built
  * with [[GraftSession.builder]], one workload, one client.
  *
  * {{{
  * Main <workload> <seed> <seconds> <trace 0|1> <cores> <dataDir> <workDir>
  * }}}
  *
  * It sets up, runs every operation once untimed (the warm-up pass, whose
  * outputs are written under `workDir/check` for `run.py` to verify), then
  * runs shuffled passes in a closed loop (the whole first pass, then single
  * operations until `seconds` have passed), and writes the raw samples to
  * `workDir/raw.json`. Aggregation into metrics, and the output checks, are
  * done by `run.py`. */
object Main {

  /** What the harness overrides on top of [[GraftSession.recommendedConfs]]. */
  def overrides(cores: Int, work: String): Map[String, String] = Map(
    "spark.master" -> s"local[$cores]",
    "spark.ui.enabled" -> "false",
    "spark.local.dir" -> s"$work/spark-local",
    "spark.sql.warehouse.dir" -> s"file:$work/warehouse")

  def session(cores: Int, work: String): SparkSession = {
    val spark = overrides(cores, work).foldLeft(
      GraftSession.builder("graft-perfbench", cores)) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Session parity: every recommended conf and every override must be in
    * effect, and no other SQL conf may be set on the session. Returns the
    * drifted keys. */
  def drift(spark: SparkSession, cores: Int, work: String): Seq[String] = {
    val expected = GraftSession.recommendedConfs(cores) ++ overrides(cores, work)
    val effective = spark.sparkContext.getConf.getAll.toMap ++ spark.conf.getAll
    val wrong = expected.collect {
      case (k, v) if !effective.get(k).contains(v) =>
        s"$k=${effective.getOrElse(k, "<unset>")} (want $v)"
    }
    // spark.sql.* keys the JVM options set from the library's own build
    // (UTC) are recommended confs too; anything else is drift
    val extra = effective.keys.filter(k => k.startsWith("spark.sql.") &&
      !expected.contains(k) && spark.sparkContext.getConf.contains(k))
    (wrong ++ extra.map(k => s"$k=${effective(k)} (not recommended)"))
      .toSeq.sorted
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, coresS, data, work) = args
    val seed = seedS.toLong
    val cores = coresS.toInt
    val t0 = System.nanoTime()
    val jvmStartS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val spark = session(cores, work)
    val drifted = drift(spark, cores, work)
    if (drifted.nonEmpty) {
      System.err.println("[perfbench] session conf drift: " +
        drifted.mkString("; "))
      sys.exit(3)
    }
    val probe = new Probe(spark, traceS == "1")
    val sessionS = jvmStartS + (System.nanoTime() - t0) / 1e9
    val w: Workload = workload match {
      case "verbs" => new Verbs(spark, probe, data, work, seed)
      case "curate" => new Curate(spark, probe, data, work, seed)
      case "ingest" => new Ingest(spark, probe, data, work, seed)
      case other => sys.error(s"unknown workload $other")
    }
    // the library calls that build indexes and layouts, several times:
    // setup_s takes their median
    val builds = (1 to Setups).map { i =>
      val b0 = System.nanoTime()
      w.build(i)
      (System.nanoTime() - b0) / 1e9
    }
    val heapAfterBuild = liveHeapMb()
    val warm0 = System.nanoTime()
    val warm = w.warmup()
    val warmS = (System.nanoTime() - warm0) / 1e9
    val setupS = sessionS + median(builds) + warmS
    val heapAfterWarmup = liveHeapMb()

    // the pass orders are shuffled from a fixed seed, not from `seed`: a
    // per-seed order moved latency by about 10% between seeds (which
    // operation follows which), more than the inputs did
    val rng = new scala.util.Random(0L)
    val order = Iterator.from(1)
      .flatMap(p => rng.shuffle(w.ops).map(p -> _)).buffered
    val runNs = (secondsS.toDouble * 1e9).toLong
    val loop0 = System.nanoTime()
    val timed = mutable.ArrayBuffer.empty[OpStats]
    var pass = 0
    // the whole first pass, so every operation has a sample; then single
    // operations until `seconds` have passed. Stopping at a pass boundary
    // instead made the sample count jump by a pass when speed crossed it
    while (w.more && (order.head._1 == 1 ||
        System.nanoTime() - loop0 < runNs)) {
      val (p, op) = order.next()
      pass = p
      timed += probe.op(op.name, p)(op.run(false))
    }
    val loopS = (System.nanoTime() - loop0) / 1e9
    probe.drain()
    val heapMb = Seq(heapAfterBuild, heapAfterWarmup, liveHeapMb()).max
    val extra = if (probe.traced) w.traceOnly() else Map.empty[String, Any]
    probe.drain()

    val raw = Map(
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "traced" -> probe.traced,
      "session_s" -> sessionS, "builds_s" -> builds, "warmup_s" -> warmS,
      "setup_s" -> setupS, "loop_s" -> loopS, "passes" -> pass,
      "peak_heap_mb" -> heapMb,
      "ops" -> w.ops.map(o => Map("name" -> o.name)),
      "warmup" -> warm.map(statsJson),
      "timed" -> timed.map(statsJson),
      "triggers" -> probe.triggers.map(t => Map("query" -> t.query,
        "batch" -> t.batchId, "rows" -> t.rows, "start" -> t.start,
        "durations" -> t.durations)),
      "checks" -> w.checks,
      "extra" -> (extra ++ w.extra))
    Json.write(Paths.get(work, "raw.json"), raw)
    if (probe.traced)
      Json.writeLines(Paths.get(work, "spans.jsonl"), probe.spans.map(s =>
        Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
          "name" -> s.name, "start" -> s.start, "end" -> s.end)))
    spark.stop()
  }

  /** Heap in use after a full collection: the live data the program
    * retains at this point (a peak-usage figure would be mostly the young
    * generation's fixed size). */
  def liveHeapMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** How many times setup builds its indexes and layouts. */
  val Setups = 3

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def statsJson(s: OpStats): Map[String, Any] = Map(
    "name" -> s.name, "pass" -> s.pass, "wall_s" -> s.wallS, "ok" -> s.ok,
    "error" -> s.error, "jobs" -> s.jobs, "stages" -> s.stages,
    "tasks" -> s.tasks, "exec_run_ms" -> s.execRunMs,
    "exec_cpu_ns" -> s.execCpuNs, "gc_ms" -> s.gcMs,
    "sched_delay_ms" -> s.schedDelayMs, "shuffle_write" -> s.shuffleWrite,
    "shuffle_read" -> s.shuffleRead, "spill" -> s.spill,
    "input_bytes" -> s.inputBytes, "output_bytes" -> s.outputBytes,
    "plan_ms" -> s.planMs, "scan_files" -> s.scanFiles,
    "files_written" -> s.filesWritten,
    "leaked_entries" -> s.leakedEntries, "leaked_bytes" -> s.leakedBytes,
    "job_spans" -> s.jobSpans.map { case (a, b) => Seq(a, b) })
}

/** One operation of a workload. `run(check)` does all of it, spans
  * included; with `check` it also writes its output for `run.py` to verify. */
final case class Op(name: String, run: Boolean => Unit)

abstract class Workload(val spark: SparkSession, val probe: Probe,
    val data: String, val work: String, val seed: Long) {
  /** Build the indexes and layouts the operations read (the `i`-th time). */
  def build(i: Int): Unit
  def ops: Seq[Op]
  /** Run every operation once, writing what `run.py` checks. */
  def warmup(): Seq[OpStats] = ops.map(o => probe.op(o.name, 0)(o.run(true)))
  /** Whether the closed loop may start another pass. */
  def more: Boolean = true
  /** What `run.py` needs to check the outputs. */
  def checks: Map[String, Any]
  def extra: Map[String, Any] = Map.empty
  /** Measurements only the traced run makes. */
  def traceOnly(): Map[String, Any] = Map.empty

  protected def path(parts: String*): String = Paths.get(work, parts: _*).toString

  /** Force every column of `df` through the noop sink (a count would let
    * the optimizer prune computed columns away). */
  protected def noop(df: DataFrame): Unit =
    probe.call("spark.action")(df.write.mode("overwrite").format("noop").save())

  /** Write `df` as parquet under `check/<name>` (not coalesced: that
    * would run the query's last stage as a single task). */
  protected def keep(name: String, df: DataFrame): Unit =
    probe.call("spark.action")(df.write.mode("overwrite")
      .parquet(path("check", name)))
}

/** A small JSON writer for the harness's raw output (Maps, Seqs, numbers,
  * strings, booleans). */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] => m.map { case (k, x) =>
      quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case a: Array[_] => render(a.toSeq)
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def write(p: java.nio.file.Path, v: Any): Unit =
    Files.writeString(p, render(v))
  def writeLines(p: java.nio.file.Path, vs: Iterable[Any]): Unit =
    Files.writeString(p, vs.map(render).mkString("", "\n", "\n"))
}
