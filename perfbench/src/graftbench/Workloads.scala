package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.identity.{Components, IdentityEdges}
import graft.ingest.{NdjsonReader, WatermarkStore}
import graft.sink.JdbcSink
import graft.streaming.StreamPipeline

/** What one traced operation did, beyond its spans and Spark counters. */
final case class OpFacts(inputBytes: Long = 0, eventsBytes: Long = 0,
    eventsFiles: Long = 0, edges: Long = 0, sinkRows: Long = 0,
    replayInserted: Long = 0)

/** A named workload: inputs written once, one timed set-up, then timed
  * operations, each followed by its output check. */
trait Workload {
  /** Typical time of one operation on a 4-core machine; sizes the run. */
  def nominalOpSeconds: Double
  /** Timed operations of a run. Every run of a workload takes the same
    * number; a traced run takes at least three pairs of operations, one of
    * each pair traced. */
  def plannedOps(seconds: Int, trace: Boolean): Int = {
    val n = math.max(2, math.round(seconds / nominalOpSeconds).toInt)
    if (trace) math.max(6, n + n % 2) else n
  }
  /** Writes the run's inputs, untimed, before the set-up. */
  def prepare(): Unit = ()
  /** Times the set-up runs; `setup_s` is their median. */
  def setups: Int = 1
  /** The run's set-up: it warms the engine's code paths (the JVM's first
    * work) and builds what the operations read. Timed as `setup_s`. */
  def setup(): Unit
  /** One timed operation; returns rows landed in the warehouse. Traced
    * when a tracer is given. Throws if the engine fails. */
  def op(k: Int, tracer: Option[Tracer]): Long
  /** Output check of operation `k`: None when correct, else what differs. */
  def check(k: Int, rows: Long): Option[String]
  /** What operation k runs, for the run record. */
  def label(k: Int): String = ""
  /** Check of the state the run ends in. */
  def finalCheck(): Option[String] = None
  /** Undo per-operation state outside the timed part. */
  def cleanup(k: Int): Unit = ()
  /** Directory of the NDJSON inputs the operations read, if any. */
  def ndjsonInput: Option[Path]
  def facts: OpFacts
}

object Workloads {
  def apply(name: String, spark: SparkSession, work: Path, seed: Long, trace: Boolean,
      bench: Path): Workload = name match {
    case "etl_backfill"    => new Backfill(spark, work, seed)
    case "etl_incremental" => new Incremental(spark, work, seed)
    case "stream_replay"   => new StreamReplay(spark, work, seed)
    case "registry_mix"    => new RegistryMix(spark, work, seed, trace,
      bench.resolve("data").resolve(RegistryMix.Tables),
      bench.resolve(s"expected-${RegistryMix.Tables}.json"))
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  /** (bytes, files) of the parquet data files under a directory. */
  def parquetSize(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val fs = s.filter(f => f.getFileName.toString.endsWith(".parquet")).toArray.map(_.asInstanceOf[Path])
        (fs.map(Files.size).sum, fs.length.toLong)
      } finally s.close()
    }

  /** Identity closure in the warehouse vs the driver-side union-find. */
  def closureMismatch(actual: Seq[(String, String)],
      expected: Map[String, String]): Option[String] = {
    val got = actual.toMap
    if (got.size != actual.size) Some(s"identity has ${actual.size - got.size} duplicate ids")
    else if (got != expected) {
      val diff = (got.toSet diff expected.toSet).take(3) ++ (expected.toSet diff got.toSet).take(3)
      Some(s"identity closure differs from union-find (${got.size} vs ${expected.size} ids), e.g. $diff")
    } else None
  }

  /** A small corpus through the batch pipeline with the JDBC sink into a
    * fresh output directory and database, so JIT, codegen, the parquet
    * writer and the Derby driver are warm. */
  def warmBatch(spark: SparkSession, in: Path, dir: Path, db: String): Unit = {
    Pipeline.run(spark, in.toString, dir.resolve("out").toString,
      Some(dir.resolve("wm").toString), Some(Derby.connector(db)), Derby.MaxVarchar)
    Derby.drop(db)
    deleteTree(dir)
  }
}

/** The stages of `graft.Pipeline.run`, called module by module so each
  * call gets a span. Spans are taken only in the traced run; the untraced
  * run calls `Pipeline.run` itself, and the traced run's overhead metric
  * (traced minus untraced operation time) shows if the two ever drift. */
object TracedPipeline {
  def run(spark: SparkSession, t: Tracer, inDir: String, outDir: String,
      watermarkFile: Option[String], connect: () => java.sql.Connection): Long = {
    val wm = t.span("pipeline.watermark")(watermarkFile.flatMap(WatermarkStore.read))
    val (events, n) = t.span("ingest") {
      val ev = NdjsonReader.readEvents(spark, inDir, wm)
        .withColumn("event_date", to_date(col("ts")))
        .localCheckpoint(eager = true)
      (ev, ev.count())
    }
    if (n > 0) {
      t.span("pipeline.events_write") {
        events.write.mode("append").partitionBy("event_date").parquet(s"$outDir/events")
      }
      val idDir = s"$outDir/identity"
      t.span("identity") {
        val edges = IdentityEdges.fromEvents(events)
        if (!edges.isEmpty) {
          val existing =
            if (Files.exists(java.nio.file.Paths.get(idDir)))
              spark.read.parquet(idDir)
                .select(col("alias_id").as("person"), col("canonical_id").as("alias"))
            else spark.emptyDataFrame.select(lit("").as("person"), lit("").as("alias")).limit(0)
          Components.connectedComponentsString(existing.union(edges))
            .withColumnRenamed("id", "alias_id")
            .localCheckpoint(eager = true)
            .write.mode("overwrite").parquet(idDir)
        }
      }
      t.span("sink") {
        JdbcSink.writeEvolving(events.drop("event_date"), "tb_event", connect,
          maxVarchar = Derby.MaxVarchar)
        Derby.deleteAll(connect, "tb_identity")
        JdbcSink.writeEvolving(spark.read.parquet(idDir)
            .withColumnRenamed("canonical_id", "id").withColumnRenamed("alias_id", "alias"),
          "tb_identity", connect, maxVarchar = Derby.MaxVarchar)
      }
      t.span("pipeline.watermark") {
        watermarkFile.foreach { f =>
          WatermarkStore.advance(f, events.agg(max(col("file_no"))).head().getLong(0))
        }
      }
    }
    n
  }
}

/** Shared by both batch workloads: one `Pipeline.run` (or its traced twin)
  * into a given output directory and warehouse, measuring what it wrote. */
abstract class BatchWorkload(spark: SparkSession) extends Workload {
  protected var lastFacts = OpFacts()
  def facts: OpFacts = lastFacts

  protected def pipeline(tracer: Option[Tracer], k: Int, in: Path, out: Path,
      wm: Option[Path], db: String, inputBytes: Long, edges: Long): Long = {
    val connect = Derby.connector(db)
    tracer match {
      case None =>
        Pipeline.run(spark, in.toString, out.toString, wm.map(_.toString),
          Some(connect), Derby.MaxVarchar)._1
      case Some(t) =>
        val before = Workloads.parquetSize(out.resolve("events"))
        val n = t.operation(k, "op") {
          TracedPipeline.run(spark, t, in.toString, out.toString, wm.map(_.toString), connect)
        }
        val after = Workloads.parquetSize(out.resolve("events"))
        val identityRows = Derby.count(db, """SELECT COUNT(*) FROM "tb_identity"""")
        lastFacts = OpFacts(inputBytes, after._1 - before._1, after._2 - before._2,
          edges, n + identityRows)
        n
    }
  }

  protected def identityIn(db: String): Seq[(String, String)] =
    Derby.rows(db, """SELECT "alias", "id" FROM "tb_identity"""")(r => (r.getString(1), r.getString(2)))
}

/** etl_backfill: the whole corpus through one `Pipeline.run` per operation,
  * into a fresh output directory, watermark file and warehouse — the
  * reference's first `process-files` run over a backlog. The set-up, a
  * warm pass over one file of the corpus's shape, runs three times. */
final class Backfill(spark: SparkSession, work: Path, seed: Long)
    extends BatchWorkload(spark) {
  val NFiles = 8; val WarmFiles = 1; val Lines = 5000; val People = 4000
  def nominalOpSeconds = 3.2
  override def setups = 3
  private var corpus: Seq[RevisionFile] = Nil
  private lazy val closure = Corpus.closure(corpus.flatMap(_.edges))
  private val inputDir = work.resolve("corpus")
  def ndjsonInput: Option[Path] = Some(inputDir)

  override def prepare(): Unit = {
    corpus = Corpus.writeAll(inputDir, seed, 1 to NFiles, Lines, People)
    Corpus.writeAll(work.resolve("warm-in"), seed + 1, 1 to WarmFiles, Lines, People)
  }

  def setup(): Unit =
    Workloads.warmBatch(spark, work.resolve("warm-in"), work.resolve("warm"), "warm")

  def op(k: Int, tracer: Option[Tracer]): Long =
    pipeline(tracer, k, inputDir, work.resolve(s"out$k"), Some(work.resolve(s"wm$k")), s"bf$k",
      corpus.map(_.bytes).sum, corpus.map(_.edges.size.toLong).sum)

  def check(k: Int, rows: Long): Option[String] = {
    val expected = corpus.map(_.events).sum
    val landed = Derby.count(s"bf$k", """SELECT COUNT(*) FROM "tb_event"""")
    if (rows != expected || landed != expected)
      Some(s"backfill $k: pipeline $rows, tb_event $landed, generator $expected events")
    else Workloads.closureMismatch(identityIn(s"bf$k"), closure)
  }

  override def cleanup(k: Int): Unit = {
    Derby.drop(s"bf$k")
    Seq(s"out$k", s"wm$k").foreach(d => Workloads.deleteTree(work.resolve(d)))
  }
}

/** etl_incremental: set-up loads the first 6 files; each timed
  * operation lands one more file and runs `Pipeline.run` with the
  * watermark file and the JDBC sink, as the reference's cron does. */
final class Incremental(spark: SparkSession, work: Path, seed: Long)
    extends BatchWorkload(spark) {
  val Initial = 6; val MaxDeltas = 40; val Lines = 2500; val People = 4000
  def nominalOpSeconds = 1.5
  private var staged: Seq[RevisionFile] = Nil
  private var landed = 0          // files in the input directory
  private var pending = 0         // landed files not yet loaded
  private val db = "inc"
  private val out = work.resolve("out")
  private val wm = work.resolve("wm")
  private val inputDir = work.resolve("in")
  def ndjsonInput: Option[Path] = Some(inputDir)

  private def land(n: Int): Unit = (0 until n).foreach { _ =>
    val f = staged(landed)
    Files.move(f.path, inputDir.resolve(f.path.getFileName), StandardCopyOption.ATOMIC_MOVE)
    landed += 1; pending += 1
  }

  override def prepare(): Unit = {
    staged = Corpus.writeAll(work.resolve("staged"), seed, 1 to Initial + MaxDeltas, Lines, People)
    Corpus.writeAll(work.resolve("warm-in"), seed + 1, 1 to 2, Lines, People)
  }

  def setup(): Unit = {
    Files.createDirectories(inputDir)
    Workloads.warmBatch(spark, work.resolve("warm-in"), work.resolve("warm"), "warm")
    land(Initial)
    Pipeline.run(spark, inputDir.toString, out.toString, Some(wm.toString),
      Some(Derby.connector(db)), Derby.MaxVarchar)
    pending = 0
  }

  def op(k: Int, tracer: Option[Tracer]): Long = {
    if (landed == staged.size) throw new IllegalStateException("corpus exhausted")
    land(1)
    val fresh = staged.slice(landed - pending, landed)
    pipeline(tracer, k, inputDir, out, Some(wm), db,
      fresh.map(_.bytes).sum, fresh.map(_.edges.size.toLong).sum)
  }

  def check(k: Int, rows: Long): Option[String] = {
    val fresh = staged.slice(landed - pending, landed).map(_.events).sum
    val expected = staged.take(landed).map(_.events).sum
    val inWarehouse = Derby.count(db, """SELECT COUNT(*) FROM "tb_event"""")
    pending = 0
    if (rows != fresh || inWarehouse != expected)
      Some(s"delta $k: pipeline $rows of $fresh new events, tb_event $inWarehouse of $expected")
    else None
  }

  /** The state after the deltas must be the one a backfill of the same
    * files produces: every event once, the closure of all edges so far —
    * in the warehouse and in the identity parquet. */
  override def finalCheck(): Option[String] = {
    val files = staged.take(landed)
    val closure = Corpus.closure(files.flatMap(_.edges))
    val parquet = spark.read.parquet(out.resolve("identity").toString)
      .collect().map(r => (r.getString(r.fieldIndex("alias_id")), r.getString(r.fieldIndex("canonical_id")))).toSeq
    val events = spark.read.parquet(out.resolve("events").toString).count()
    val expected = files.map(_.events).sum
    if (pending > 0) Some(s"$pending landed files never loaded")
    else if (events != expected) Some(s"events parquet holds $events of $expected events")
    else Workloads.closureMismatch(identityIn(db), closure)
      .orElse(Workloads.closureMismatch(parquet, closure).map("parquet " + _))
  }
}

object StreamReplay {
  /** What `StreamPipeline.drain` throws for `crashAfterBatch = Some(1)`. */
  val CrashMessage = "injected crash after sink write of batch 1"
}

/** stream_replay: the corpus through `StreamPipeline.drain` into Derby with
  * a crash injected after batch 1's sink commit, a restart from the
  * checkpoint, then `refreshIdentity`. Each operation is one such cycle
  * into a fresh checkpoint and warehouse. */
final class StreamReplay(spark: SparkSession, work: Path, seed: Long) extends Workload {
  val NFiles = 6; val Lines = 1000; val People = 4000; val PerTrigger = 2
  def nominalOpSeconds = 4.0
  private var corpus: Seq[RevisionFile] = Nil
  private lazy val closure = Corpus.closure(corpus.flatMap(_.edges))
  private var lastFacts = OpFacts()
  private val outcome = scala.collection.mutable.Map.empty[Int, (Option[Throwable], Long, Long)]
  def facts: OpFacts = lastFacts
  private val inputDir = work.resolve("corpus")
  def ndjsonInput: Option[Path] = Some(inputDir)

  /** (first attempt's failure, rows it inserted, rows both inserted,
    * identity rows). */
  private def cycle(in: Path, ckpt: String, db: String, tracer: Option[Tracer])
      : (Option[Throwable], Long, Long, Long) = {
    val connect = Derby.connector(db)
    def span[T](name: String)(body: => T): T = tracer.fold(body)(_.span(name)(body))
    val r1 = span("stream.drain")(StreamPipeline.drain(spark, in.toString, ckpt, "tb_event",
      connect, maxFilesPerTrigger = PerTrigger, dedupHorizon = "45 days",
      crashAfterBatch = Some(1L), maxVarchar = Derby.MaxVarchar))
    val r2 = span("stream.drain")(StreamPipeline.drain(spark, in.toString, ckpt, "tb_event",
      connect, maxFilesPerTrigger = PerTrigger, dedupHorizon = "45 days",
      maxVarchar = Derby.MaxVarchar))
    r2.failure.foreach(e => throw e)
    val ids = span("stream.refresh_identity")(
      StreamPipeline.refreshIdentity(spark, Derby.url(db), "tb_event", "tb_identity", connect))
    (r1.failure, r1.inserted, r1.inserted + r2.inserted, ids)
  }

  override def prepare(): Unit = {
    corpus = Corpus.writeAll(inputDir, seed, 1 to NFiles, Lines, People)
    // the warm cycle runs a corpus of the timed one's shape, crash and
    // replay included
    Corpus.writeAll(work.resolve("warm-in"), seed + 1, 1 to NFiles, Lines, People)
  }

  def setup(): Unit = {
    cycle(work.resolve("warm-in"), work.resolve("ckpt-warm").toString, "warm", None)
    Derby.drop("warm")
    Workloads.deleteTree(work.resolve("ckpt-warm"))
  }

  def op(k: Int, tracer: Option[Tracer]): Long = {
    val db = s"st$k"
    val (crash, beforeCrash, inserted, identityRows) = tracer match {
      case None => cycle(inputDir, work.resolve(s"ckpt$k").toString, db, None)
      case Some(t) => t.operation(k, "op")(cycle(inputDir, work.resolve(s"ckpt$k").toString, db, tracer))
    }
    outcome(k) = (crash, beforeCrash, inserted)
    val landed = Derby.count(db, """SELECT COUNT(*) FROM "tb_event"""")
    lastFacts = OpFacts(inputBytes = corpus.map(_.bytes).sum,
      edges = corpus.map(_.edges.size.toLong).sum, sinkRows = landed + identityRows,
      replayInserted = inserted - corpus.map(_.events).sum)
    landed
  }

  def check(k: Int, rows: Long): Option[String] = {
    val db = s"st$k"
    val expected = corpus.map(_.events).sum
    val (crash, beforeCrash, inserted) = outcome(k)
    val distinct = Derby.count(db, """SELECT COUNT(DISTINCT "md5hash") FROM "tb_event"""")
    // only the injected crash counts, and only after batches 0-1 landed
    // part of the corpus, so the restart really replays batch 1
    val causes = Iterator.iterate(crash.orNull)(_.getCause).takeWhile(_ != null)
    if (!causes.exists(e => String.valueOf(e.getMessage).contains(StreamReplay.CrashMessage)))
      Some(s"cycle $k: first attempt did not end in the injected crash: $crash")
    else if (beforeCrash <= 0 || beforeCrash >= expected)
      Some(s"cycle $k: $beforeCrash of $expected rows landed before the crash")
    else if (rows != expected || distinct != expected || inserted != expected)
      Some(s"cycle $k: tb_event $rows rows, $distinct distinct, $inserted inserted; expected $expected once each")
    else Workloads.closureMismatch(
      Derby.rows(db, """SELECT "alias", "id" FROM "tb_identity"""")(r => (r.getString(1), r.getString(2))),
      closure)
  }

  override def cleanup(k: Int): Unit = {
    Derby.drop(s"st$k")
    Workloads.deleteTree(work.resolve(s"ckpt$k"))
  }
}
