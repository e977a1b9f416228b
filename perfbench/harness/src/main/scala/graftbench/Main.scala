package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Try
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.cli.Graft
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: start a `local[nproc]` session the way
  * `Graft.main` does, generate the workload's inputs from the seed, then
  * run CLI jobs back to back (one client, closed loop) for `--seconds`,
  * checking every output against the generator's ground truth.
  *
  * With `--trace 1` each round runs an untraced CLI job, the same job
  * traced as one `cli.run` span, the job spelled out as spans around calls
  * into each layer, and the layer probes; the per-layer metrics are the
  * medians of the rounds.
  *
  * Prints the result object, with the metrics `--spec` (BENCHMARK.json)
  * declares, as the last line of stdout and writes the full record
  * (stamps, every job, decisions, spans) to `--record`. */
object Main {
  /** Input generations per run; setup reports the session start, their
    * median and the warm-up job. */
  private val SetupReps = 3
  /** Fewest measured jobs (trace 0) or rounds (trace 1) in a run. */
  private val MinJobs = 3
  private val MinRounds = 2
  private val Mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, record: String, spec: String, corrupt: Boolean)

  final case class JobRun(tag: String, wallS: Double, error: Option[String],
                          retainedMb: Double, persistentRdds: Int, decisions: Seq[Decision]) {
    def toMap: Map[String, Any] = Map("tag" -> tag, "wall_s" -> wallS, "ok" -> error.isEmpty,
      "error" -> error, "retained_cache_mb" -> retainedMb, "persistent_rdds" -> persistentRdds,
      "decisions" -> decisions.map(_.toMap))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Decisions.install()
    val stampStart = stamp()
    val t0 = System.nanoTime()
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", s"${a.work}/spark-local")
      .getOrCreate()
    try {
      spark.sparkContext.setLogLevel("WARN")
      val sessionS = since(t0)
      val w = Workloads(a.workload, a.seed, 2 * cores)
      val genS = (1 to SetupReps).map { r =>
        val t = System.nanoTime()
        w.generate(spark, s"${a.work}/in$r")
        val s = since(t)
        if (r > 1) Workloads.deleteTree(new File(s"${a.work}/in${r - 1}"))
        s
      }
      val runner = new Runner(spark, w, s"${a.work}/in$SetupReps", a)
      w.prepare(spark, runner.in)
      val cold = runner.cli("cold")
      val warmup = runner.cli("warmup")
      val setupS = sessionS + median(genS) + warmup.wallS
      val setup = Map("session_s" -> sessionS, "generate_s" -> genS, "warmup_s" -> warmup.wallS)

      val loop = System.nanoTime()
      val (values, spans) =
        if (!a.trace) {
          val warm = ArrayBuffer[JobRun]()
          while (warm.size < MinJobs || since(loop) < a.seconds) warm += runner.cli("warm")
          val walls = warm.map(_.wallS).toSeq
          (Map("job_s" -> median(walls),
            "rows_per_s" -> w.inputRows * walls.size / walls.sum,
            "cold_job_s" -> cold.wallS,
            "setup_s" -> setupS), Nil)
        } else traced(spark, runner, a, loop)

      val stampEnd = stamp()
      val spec = declared(a.spec, if (a.trace) "per_layer" else "end_to_end")
      val metrics = spec.map { case (name, unit) =>
        // a span this workload never opens reads 0; an unknown name is an error
        val v = values.get(name).orElse(
          if (a.trace && Counters.Names(name.drop(name.lastIndexOf('.') + 1))) Some(0.0) else None)
        name -> Map("value" -> v.getOrElse(
          throw new IllegalStateException(s"no value for declared metric $name")), "unit" -> unit)
      }
      val jobs = runner.runs.toList
      val failed = jobs.count(_.error.nonEmpty)
      val result = Map("correct" -> (failed == 0), "attempted" -> jobs.size, "failed" -> failed,
        "metrics" -> scala.collection.immutable.ListMap(metrics: _*))
      val record = Map(
        "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
        "corrupt" -> a.corrupt, "nproc" -> cores,
        "heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "java" -> System.getProperty("java.version"), "spark" -> spark.version,
        "input_rows" -> w.inputRows,
        "stamp_start" -> stampStart, "stamp_end" -> stampEnd,
        "setup" -> setup, "result" -> result, "jobs" -> jobs.map(_.toMap), "spans" -> spans)
      Mapper.writeValue(new File(a.record), record)
      println(Mapper.writeValueAsString(result))
    } finally spark.stop()
  }

  /** Rounds of: untraced CLI job, traced CLI job, spelled-out pipeline,
    * probes. Returns per-layer values (medians over rounds) and the spans. */
  private def traced(spark: SparkSession, runner: Runner, a: Args,
                     loop: Long): (Map[String, Double], Seq[Map[String, Any]]) = {
    val tr = new Tracer(spark)
    // per round: "<span>.<counter>" -> value summed over the span's calls
    val rounds = ArrayBuffer[Map[String, Double]]()
    val untraced, tracedCli = ArrayBuffer[Double]()
    val spans = ArrayBuffer[Map[String, Any]]()
    while (rounds.size < MinRounds || since(loop) < a.seconds) {
      // alternate which of the two CLI jobs runs first, so JIT warm-up
      // does not bias the tracing overhead
      val untracedFirst = rounds.size % 2 == 0
      if (untracedFirst) untraced += runner.cli("untraced").wallS
      tr.runId = rounds.size
      tr.attach()
      try {
        tracedCli += runner.cli("traced", Some(tr)).wallS
        runner.pipeline(tr)
        runner.probes(tr)
      } finally tr.detach()
      if (!untracedFirst) untraced += runner.cli("untraced").wallS
      val rep = tr.report()
      spans ++= rep.map { case (s, c) =>
        Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run_id" -> s.runId,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs, "counters" -> c.toMap)
      }
      rounds += rep.groupBy(_._1.name).flatMap { case (name, xs) =>
        val cs = xs.map(_._2.toMap)
        cs.head.keys.map { k =>
          s"$name.$k" -> (if (k == "max_task_over_median") cs.map(_(k)).max else cs.map(_(k)).sum)
        }
      }
    }
    val layer = rounds.flatMap(_.keys).distinct
      .map(m => m -> median(rounds.toSeq.map(_.getOrElse(m, 0.0)))).toMap
    val cliJobs = runner.runs.filter(r => r.tag == "untraced" || r.tag == "traced").toSeq
    val extra = Map(
      "cli.retained_cache_mb" -> median(cliJobs.map(_.retainedMb)),
      "cli.persistent_rdds" -> median(cliJobs.map(_.persistentRdds.toDouble)),
      "cli.trace_overhead_s" -> (median(tracedCli.toSeq) - median(untraced.toSeq)),
      "cli.error_rate" -> runner.runs.count(_.error.nonEmpty).toDouble / runner.runs.size)
    (layer ++ extra, spans.toSeq)
  }

  /** Runs jobs into fresh output directories, checks them, and resets the
    * session's caches outside the timed section. */
  final class Runner(spark: SparkSession, w: Workload, val in: String, a: Args) {
    val runs = ArrayBuffer[JobRun]()
    private var n = 0

    def cli(tag: String, tr: Option[Tracer] = None): JobRun = {
      val args = w.cliArgs(in, nextOut())
      timed(tag) {
        tr match {
          case Some(t) => t.span("cli.run")(Graft.run(args, spark))
          case None => Graft.run(args, spark)
        }
      }
    }

    def pipeline(tr: Tracer): JobRun = {
      val out = nextOut()
      timed("pipeline")(tr.span("bench.pipeline")(w.pipeline(spark, tr, in, out)))
    }

    def probes(tr: Tracer): JobRun =
      timed("probes", check = false)(tr.span("bench.probes")(w.probes(spark, tr, in)))

    private def out = s"${a.work}/out$n"

    private def nextOut(): String = { n += 1; out }

    private def timed(tag: String, check: Boolean = true)(job: => Unit): JobRun = {
      Decisions.take()
      val t = System.nanoTime()
      val failure = Try(job).failed.toOption.map(e => s"job threw $e")
      val wallS = since(t)
      val decisions = Decisions.take()
      val error = failure
        .orElse(decisions.find(_.branch == "skip").map(d => s"output short circuit: ${d.text}"))
        .orElse(if (!check) None else Try {
          if (a.corrupt) w.corrupt(spark, out)
          w.check(spark, out)
        }.fold(e => Some(s"check threw $e"), identity))
      val sc = spark.sparkContext
      val retainedMb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
      val persistent = sc.getPersistentRDDs.size
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
      if (check) Workloads.deleteTree(new File(out))
      val run = JobRun(tag, wallS, error, retainedMb, persistent, decisions)
      System.err.println(f"[bench] $tag%-9s ${wallS}%.3f s ${error.getOrElse("ok")}" +
        f" retained=$retainedMb%.1fMiB rdds=$persistent" +
        decisions.map(d => s" [${d.op} ${d.branch}]").mkString)
      runs += run
      run
    }
  }

  private def since(t: Long): Double = (System.nanoTime() - t) / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Host state: load average, the number of other JVMs running, and the
    * CPU jiffies so far, total and stolen by the hypervisor (on a shared VM
    * host, steal is what slows a run without showing in the load). */
  private def stamp(): Map[String, Any] = {
    val self = ProcessHandle.current().pid()
    val jvms = ProcessHandle.allProcesses().iterator().asScala
      .count(p => p.pid() != self && p.info().command().orElse("").endsWith("/java"))
    def proc(f: String) = Try(new String(Files.readAllBytes(new File(f).toPath), UTF_8)).toOption
    val load = proc("/proc/loadavg").map(_.trim.split(" ").take(3).map(_.toDouble).toSeq)
    // first line: cpu user nice system idle iowait irq softirq steal ...
    val cpu = proc("/proc/stat").map(_.linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong))
    Map("loadavg" -> load, "sibling_jvms" -> jvms, "epoch_ms" -> System.currentTimeMillis(),
      "cpu_jiffies" -> cpu.map(_.take(8).sum), "steal_jiffies" -> cpu.flatMap(_.lift(7)))
  }

  /** (name, unit) of the metrics of one kind declared in BENCHMARK.json. */
  private def declared(benchmarkJson: String, kind: String): Seq[(String, String)] =
    Mapper.readTree(new File(benchmarkJson)).get(kind).elements().asScala
      .map(m => m.get("name").asText -> m.get("unit").asText).toSeq

  private def parse(argv: Array[String]): Args = {
    def req(k: String): String = argv.indexOf(k) match {
      case i if i >= 0 && i + 1 < argv.length => argv(i + 1)
      case _ => throw new IllegalArgumentException(s"missing $k")
    }
    Args(req("--workload"), req("--seed").toLong, req("--seconds").toDouble,
      req("--trace") == "1", req("--work"), req("--record"), req("--spec"),
      argv.contains("--corrupt"))
  }
}
