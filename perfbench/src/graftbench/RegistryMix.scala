package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Row, SparkSession}

import graft.queries.{ArtifactFamilies, Q, Registry}

/** The query registry's surface: which queries a seed samples, the shared
  * artifact families, and the content fingerprint of a result. */
object RegistryMix {
  /** The benchmark's copy of the engine's sf0.01 test tables. */
  val Tables = "sf0.01"

  /** Always sampled: the queries whose compute sets the registry's tail. */
  val MustInclude = Seq("sim_knn_descent_converged", "sim_graph_incremental",
    "sim_graph_delete", "text_bm25_merged_served", "quality_dsir", "bpe_train",
    "eval_bootstrap_ci", "privacy_l_diversity")

  def families: Seq[String] = Registry.byFamily.map(_._1)

  /** The artifact families the registry's queries share, in
    * `ArtifactFamilies`' order (18 artifacts in 11 families). */
  def artifactFamilies: Seq[String] =
    ArtifactFamilies.ensures(null, "", "").map(_._1)

  /** (family, query) pairs of the sample, in the seed's order: the
    * `MustInclude` queries, and the first query of every other family. The
    * seed draws only the order, so every seed times the same queries. */
  def sample(seed: Long): Seq[(String, Q)] = {
    val picked = Registry.byFamily.flatMap { case (fam, qs) =>
      val must = qs.filter(q => MustInclude.contains(q.name))
      (if (must.nonEmpty) must else qs.take(1)).map(fam -> _)
    }
    new scala.util.Random(seed).shuffle(picked)
  }

  /** Order-independent digest of a result: column names, then every row
    * rendered canonically, sorted. Floating-point values keep 9
    * significant digits, so a different summation order across partitions
    * does not change the digest. */
  def fingerprint(columns: Seq[String], rows: Array[Row]): String = {
    def render(v: Any): String = v match {
      case null => "~"
      case d: Double => if (d.isNaN) "NaN" else if (d == 0.0) "0" else "%.9g".format(d)
      case f: Float => render(f.toDouble)
      case t: java.sql.Timestamp => s"ts${t.getTime}.${t.getNanos}"
      case t: java.time.Instant => s"ts${t.getEpochSecond}.${t.getNano}"
      case d: java.sql.Date => s"d${d.toLocalDate}"
      case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
      case b: Array[Byte] => b.map("%02x".format(_)).mkString("x", "", "")
      case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
      case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
      case x => x.toString
    }
    val md = MessageDigest.getInstance("SHA-256")
    md.update(columns.mkString("|").getBytes(StandardCharsets.UTF_8))
    rows.map(r => render(r)).sorted.foreach { s =>
      md.update(s.getBytes(StandardCharsets.UTF_8)); md.update(10.toByte)
    }
    md.digest().take(12).map("%02x".format(_)).mkString
  }

  /** Expected (rows, fingerprint) per query name, as captured from the
    * engine on the benchmark's tables (`capture.py`). A null fingerprint
    * marks a query whose content differs between two runs of the same
    * code; only its row count is checked. */
  def expected(file: Path): Map[String, (Long, Option[String])] = {
    val line = """\s*"([^"]+)": \{"rows": (\d+), "fingerprint": (null|"([0-9a-f]+)")\},?""".r
    Files.readAllLines(file).toArray(Array.empty[String]).toSeq.collect {
      case line(name, rows, _, fp) => name -> (rows.toLong, Option(fp))
    }.toMap
  }
}

/** One traced query: its family, time, planning and job time. */
final case class QueryFacts(name: String, family: String, seconds: Double,
    planningS: Double, execS: Double)

/** registry_mix: the registry sample, in the seed's order, over the
  * benchmark's fixed tables. The set-up builds every shared artifact
  * family; being the JVM's first work, it also warms JIT and codegen. One
  * timed operation is one query, run to its collected result: in the
  * untraced run, the query's first execution in the session. */
final class RegistryMix(spark: SparkSession, work: Path, seed: Long, traced: Boolean,
    data: Path, expectedFile: Path) extends Workload {
  import RegistryMix._

  val queries: Seq[(String, Q)] = sample(seed)
  private val expected = RegistryMix.expected(expectedFile)
  private val dir = data.toString
  private var lastRows: Array[Row] = Array.empty
  private var lastColumns: Seq[String] = Nil
  /** Build time of each artifact family in the set-up. */
  var artifactSeconds: Seq[(String, Double)] = Nil
  val tracedQueries = ArrayBuffer.empty[QueryFacts]

  def nominalOpSeconds: Double = 0.5
  def facts: OpFacts = OpFacts()
  def ndjsonInput: Option[Path] = None

  /** The untraced run takes the sample once; the traced run takes it twice,
    * each query once untraced and once traced. */
  override def plannedOps(seconds: Int, trace: Boolean): Int =
    queries.size * (if (trace) 2 else 1)

  private def queryAt(k: Int): (String, Q) = queries(if (traced) k / 2 else k)
  override def label(k: Int): String = queryAt(k)._2.name

  /** Build and persist every artifact family through its public `ensure`,
    * from scratch. */
  def setup(): Unit = {
    ArtifactFamilies.invalidateAll()
    val store = work.resolve("artifacts")
    Workloads.deleteTree(store)
    artifactSeconds = ArtifactFamilies.ensures(spark, dir, store.toString).map { case (name, ensure) =>
      val t0 = System.nanoTime()
      if (ensure()) throw new IllegalStateException(s"artifact family $name was reused, not built")
      name -> (System.nanoTime() - t0) / 1e9
    }
    // The traced run compares each query's untraced and traced times; run
    // the sample once first, so neither of the two is a first execution.
    if (traced) queries.foreach { case (_, q) => q.run(spark, dir).collect() }
  }

  def op(k: Int, tracer: Option[Tracer]): Long = {
    val (fam, q) = queryAt(k)
    def run(): Array[Row] = {
      val df = q.run(spark, dir)
      lastColumns = df.columns.toSeq
      df.collect()
    }
    lastRows = tracer match {
      case None => run()
      case Some(t) =>
        val t0 = System.nanoTime()
        val rows = t.operation(k, "query")(run())
        val root = t.spans.filter(s => s.op == k && s.parent == -1).last
        val jobs = t.counters.get(root.id)
        tracedQueries += QueryFacts(q.name, fam, (System.nanoTime() - t0) / 1e9,
          t.opPlanningMs.getOrElse(k, 0L) / 1e3,
          if (jobs == null) 0.0 else Tracer.covered(jobs.jobIntervals.toSeq) / 1e3)
        rows
    }
    lastRows.length.toLong
  }

  def check(k: Int, rows: Long): Option[String] = {
    val name = queryAt(k)._2.name
    expected.get(name) match {
      case None => Some(s"query $name has no expected result in ${expectedFile.getFileName}")
      case Some((n, _)) if n != rows => Some(s"query $name: $rows rows, expected $n")
      case Some((_, Some(fp))) if fingerprint(lastColumns, lastRows) != fp =>
        Some(s"query $name: content fingerprint ${fingerprint(lastColumns, lastRows)}, expected $fp")
      case _ => None
    }
  }

  override def cleanup(k: Int): Unit = lastRows = Array.empty
}
