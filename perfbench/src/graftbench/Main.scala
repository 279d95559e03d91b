package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ingest.NdjsonReader

/** One timed operation that succeeded and checked out. */
final case class Sample(op: Int, seconds: Double, rows: Long, traced: Boolean)

/** Timed operations of one run. An operation that throws, or whose output
  * check mismatches, counts as failed and contributes no time sample. */
final class Ops {
  var attempted = 0
  var failed = 0
  val samples = ArrayBuffer.empty[Sample]
  val errors = ArrayBuffer.empty[String]

  /** True when the operation succeeded and its output checked out. */
  def run(op: Int, traced: Boolean)(body: => Long)(check: Long => Option[String]): Boolean = {
    attempted += 1
    val t0 = System.nanoTime()
    val res = Try(body)
    val sec = (System.nanoTime() - t0) / 1e9
    res.flatMap(n => Try(check(n)).map(n -> _)) match {
      case Failure(e) => failed += 1; errors += e.toString; false
      case Success((_, Some(msg))) => failed += 1; errors += msg; false
      case Success((n, None)) => samples += Sample(op, sec, n, traced); true
    }
  }

  /** A check of the state a run ends in counts as one more operation. */
  def verify(check: => Option[String]): Unit = {
    attempted += 1
    Try(check) match {
      case Failure(e) => failed += 1; errors += e.toString
      case Success(Some(msg)) => failed += 1; errors += msg
      case Success(None) => ()
    }
  }
}

object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      cores: Int, bench: Path, work: Path, records: Path, inject: Option[String])

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("cores").toInt, Paths.get(m("bench")), Paths.get(m("work")), Paths.get(m("records")),
      m.get("inject-failure"))
  }

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Fixed single-thread CPU work: a drift diagnostic recorded with every
    * run, never a gate. */
  def cpuProbe(): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L; var acc = 0L; var i = 0
    while (i < 100000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; acc += x & 1023; i += 1 }
    if (acc == 42) println()
    (System.nanoTime() - t0) / 1e9
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.work)
    val spark = session(a.cores, a.work)
    val (result, record, ok) = try runWorkload(spark, a) finally spark.stop()
    val recDir = a.records.resolve(s"cores-${a.cores}")
    Files.createDirectories(recDir)
    Files.writeString(recDir.resolve(s"${a.workload}-s${a.seed}-t${if (a.trace) 1 else 0}.json"), record)
    println(result)
    System.out.flush()
    sys.exit(if (ok) 0 else 1)
  }

  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A metric without samples (every operation failed) has no value. */
  private def metric(name: String, v: Double, unit: String): String = {
    val x = if (v.isNaN || v.isInfinite) "null" else v.toString
    s""""$name": {"value": $x, "unit": "$unit"}"""
  }

  def runWorkload(spark: SparkSession, a: Args): (String, String, Boolean) = {
    val w = Workloads(a.workload, spark, a.work, a.seed, a.trace, a.bench)
    w.prepare()
    // the median of the set-ups: the first pays the JVM's cold start, the
    // later ones what the set-up itself costs, and all of them warm the
    // engine for the timed operations
    val setups = (1 to w.setups).map { _ =>
      val t0 = System.nanoTime(); w.setup(); (System.nanoTime() - t0) / 1e9
    }
    val setupS = median(setups)
    val probe = cpuProbe()
    val ops = new Ops
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val facts = ArrayBuffer.empty[OpFacts]
    var peakWriters = 0
    // Every run of a workload takes the same number of samples, sized so the
    // operations take about `--seconds`: with a time limit instead, a slower
    // run would take fewer samples at a different point of the JIT's
    // warm-up, and its median would move for that reason alone. The traced
    // run takes operations in pairs, one traced and one not, so both see
    // the same state and their difference is the tracing overhead. Which
    // of the two goes first alternates, so warm-up (or a growing history)
    // does not pass for overhead.
    val count = w.plannedOps(a.seconds, a.trace)
    val budget = 6 * math.max(a.seconds.toDouble, count * w.nominalOpSeconds)
    val t0 = System.nanoTime()
    var k = 0
    // a program many times slower than nominal stops early rather than
    // overrunning the run's time limit
    while (k < count && (System.nanoTime() - t0) / 1e9 < budget) {
      val traced = a.trace && (k % 2 == 1) == (k / 2 % 2 == 0)
      val kk = k
      Derby.timing = traced
      if (traced) graft.sink.SinkGauge.reset()
      val ok = ops.run(kk, traced) {
        if (a.inject.contains("all-ops") || a.inject.contains("op") && kk == 0)
          throw new RuntimeException("injected operation failure")
        w.op(kk, if (traced) tracer else None)
      } { rows =>
        val c = w.check(kk, rows)
        if (a.inject.contains("check") && kk == 0) Some(s"injected mismatch on operation $kk") else c
      }
      Derby.timing = false
      if (traced && ok) {
        facts += w.facts
        peakWriters = math.max(peakWriters, graft.sink.SinkGauge.peakWriters)
      }
      w.cleanup(kk)
      k += 1
    }
    ops.verify(w.finalCheck())
    ops.errors.foreach(e => System.err.println(s"[graftbench] FAILED: $e"))

    val metrics =
      if (!a.trace) Seq(
        metric("setup_s", setupS, "s"),
        metric("op_p50_s", median(ops.samples.map(_.seconds).toSeq), "s"))
      else layerMetrics(spark, a, w, tracer.get, ops, facts.toSeq, peakWriters, probe)
    val result = s"""{"correct": ${ops.failed == 0}, "attempted": ${ops.attempted}, "failed": ${ops.failed}, "metrics": {${metrics.mkString(", ")}}}"""
    val record =
      s"""{"workload": "${a.workload}", "seed": ${a.seed}, "cores": ${a.cores}, "trace": ${a.trace},
         | "cpu_probe_s": $probe, "setup_s": $setupS, "setups_s": [${setups.mkString(", ")}],
         | "ops": [${ops.samples.map(s => s"""{"op": ${s.op}, "label": "${w.label(s.op)}", "s": ${s.seconds}, "rows": ${s.rows}, "traced": ${s.traced}}""").mkString(", ")}],
         | "errors": [${ops.errors.map(e => "\"" + e.replace("\\", "\\\\").replace("\"", "'").replace("\n", " ") + "\"").mkString(", ")}],
         | "result": $result,
         | "spans": ${tracer.map(_.spansJson).getOrElse("[]")}}""".stripMargin
    (result, record, ops.failed == 0)
  }

  def layerMetrics(spark: SparkSession, a: Args, w: Workload, t: Tracer, ops: Ops,
      facts: Seq[OpFacts], peakWriters: Int, probe: Double): Seq[String] = {
    val traced = ops.samples.filter(_.traced).map(_.seconds).toSeq
    // Operations 2j and 2j + 1 are a pair, one traced (for registry_mix:
    // the same query twice). The overhead is the median difference over
    // the pairs after the first, whose untraced half is still much colder
    // than its traced half; since the order within a pair alternates, the
    // remaining warm-up adds to half of the differences and takes from the
    // other half.
    val byOp = ops.samples.map(s => s.op -> s.seconds).toMap
    val pairs = ops.samples.filter(s => s.traced && s.op > 1)
      .flatMap(s => byOp.get(s.op ^ 1).map(s.seconds - _)).toSeq
    val overhead = median(pairs)
    val n = math.max(traced.size, 1).toDouble
    val roots = t.spans.filter(_.parent == -1)
    val wallS = roots.map(s => (s.end - s.start) / 1e9).sum
    val all = t.sum()
    val ingest = t.sum("ingest")
    val identity = t.sum("identity", "stream.refresh_identity")
    val rowsIn = ops.samples.filter(_.traced).map(_.rows).sum
    val ingestS = t.selfSeconds("ingest")
    val conns = Derby.connections.asScala.toSeq
    val driverJdbcS = conns.filter(!_._3).map(c => c._2 - c._1).sum / 1e9
    val writers = conns.filter(_._3).map(c => (c._1, c._2))
    // sink wall time: driver-side JDBC plus the time any writer was open
    val sinkS = driverJdbcS + Tracer.covered(writers) / 1e9
    val progress = t.streamProgress.asScala.toSeq
    def dur(key: String) = progress.map(p => Option(p.durationMs.get(key)).map(_.longValue).getOrElse(0L)).sum / 1e3
    // repaired / corrupt lines of the inputs, counted once per run
    val (repaired, corrupt) = w.ndjsonInput.fold((0L, 0L)) { in =>
      val parsed = NdjsonReader.parsed(NdjsonReader.rawLines(spark, in.toString))
      val schema = org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.StringType)
      (parsed.where(from_json(col("line"), schema).isNull && col("corrupt_line").isNull).count(),
        parsed.where(col("corrupt_line").isNotNull).count())
    }
    def f(g: OpFacts => Long) = facts.map(g).sum.toDouble
    Seq(
      metric("host.cores", a.cores, "count"),
      metric("host.cpu_probe_s", probe, "s"),
      metric("trace.overhead_s", overhead, "s"),
      metric("trace.spans", t.spans.size / n, "count"),
      metric("ingest.s", ingestS / n, "s"),
      metric("ingest.exec_cpu_s", ingest.cpuNs / 1e9 / n, "s"),
      metric("ingest.rows_per_s", if (ingestS > 0) rowsIn / ingestS else 0.0, "rows/s"),
      metric("ingest.repaired_lines", repaired, "count"),
      metric("ingest.corrupt_lines", corrupt, "count"),
      metric("pipeline.events_write_s", t.selfSeconds("pipeline.events_write") / n, "s"),
      metric("pipeline.events_bytes_per_input_byte",
        if (f(_.inputBytes) > 0) f(_.eventsBytes) / f(_.inputBytes) else 0.0, "ratio"),
      metric("pipeline.events_files", f(_.eventsFiles) / n, "count"),
      metric("pipeline.watermark_s", t.selfSeconds("pipeline.watermark") / n, "s"),
      metric("identity.s", (t.selfSeconds("identity") + t.selfSeconds("stream.refresh_identity")) / n, "s"),
      metric("identity.edges", f(_.edges) / n, "count"),
      metric("identity.jobs", identity.jobs / n, "count"),
      metric("identity.shuffle_bytes", identity.shuffleBytes / n, "bytes"),
      metric("sink.s", sinkS / n, "s"),
      metric("sink.rows_per_s", if (sinkS > 0) f(_.sinkRows) / sinkS else 0.0, "rows/s"),
      metric("sink.peak_writers", peakWriters, "count"),
      metric("sink.driver_jdbc_s", driverJdbcS / n, "s"),
      metric("sink.writer_busy_s", writers.map(c => c._2 - c._1).sum / 1e9 / n, "s"),
      metric("spark.jobs", all.jobs / n, "count"),
      metric("spark.stages", all.stages / n, "count"),
      metric("spark.tasks", all.tasks / n, "count"),
      metric("spark.exec_run_s", all.runMs / 1e3 / n, "s"),
      metric("spark.exec_util", if (wallS > 0) all.runMs / 1e3 / (wallS * a.cores) else 0.0, "ratio"),
      metric("spark.driver_s", (wallS - Tracer.covered(all.jobIntervals.toSeq) / 1e3) / n, "s"),
      metric("spark.planning_s", t.planningMs.get / 1e3 / n, "s"),
      metric("spark.shuffle_bytes", all.shuffleBytes / n, "bytes"),
      metric("spark.spill_bytes", all.spillBytes / n, "bytes"),
      metric("spark.peak_exec_mem_mb", all.peakMem / 1048576.0, "MB"),
      metric("stream.batches", progress.count(_.numInputRows > 0) / n, "count"),
      metric("stream.add_batch_s", dur("addBatch") / n, "s"),
      metric("stream.planning_s", dur("queryPlanning") / n, "s"),
      metric("stream.wal_commit_s", dur("walCommit") / n, "s"),
      metric("stream.state_rows", progress.flatMap(_.stateOperators.map(_.numRowsTotal.toDouble)).maxOption.getOrElse(0.0), "count"),
      metric("stream.replay_inserted", f(_.replayInserted), "count")) ++
      queryMetrics(w, ops)
  }

  /** The queries layer; 0 on the workloads that run no registry query. */
  def queryMetrics(w: Workload, ops: Ops): Seq[String] = {
    val (qs, untraced, artifacts) = w match {
      case r: RegistryMix =>
        (r.tracedQueries.toSeq, ops.samples.filter(!_.traced).map(_.seconds).toSeq, r.artifactSeconds)
      case _ => (Nil, Nil, Nil)
    }
    def z(x: Double) = if (x.isNaN) 0.0 else x
    Seq(
      metric("query.count", untraced.size, "count"),
      metric("query.p50_s", z(median(untraced)), "s"),
      metric("query.total_s", untraced.sum, "s"),
      metric("query.planning_s", z(median(qs.map(_.planningS))), "s"),
      metric("query.exec_s", z(median(qs.map(_.execS))), "s")) ++
    RegistryMix.families.map { fam =>
      val ts = qs.filter(_.family == fam).map(_.seconds)
      metric(s"family.$fam.s", if (ts.isEmpty) 0.0 else ts.sum / ts.size, "s")
    } ++
    RegistryMix.artifactFamilies.map { name =>
      metric(s"artifact.$name.s", artifacts.collectFirst { case (`name`, t) => t }.getOrElse(0.0), "s")
    }
  }
}
