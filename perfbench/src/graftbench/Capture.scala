package graftbench

import java.nio.file.{Files, Paths}

import scala.util.{Failure, Success, Try}

import graft.queries.{ArtifactFamilies, Registry}

/** Records every registry query's row count and content fingerprint on
  * the benchmark's tables, after building the artifact families the way
  * registry_mix's set-up does. `capture.py` runs it twice, in opposite
  * orders, and writes `expected.json` from the two.
  *
  *   graftbench.Capture --cores N --work DIR --tables DIR --out FILE --reverse 0|1
  */
object Capture {
  def main(argv: Array[String]): Unit = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val work = Paths.get(m("work"))
    Files.createDirectories(work)
    val spark = Main.session(m("cores").toInt, work)
    val dir = m("tables")
    val out = try {
      ArtifactFamilies.ensures(spark, dir, work.resolve("artifacts").toString).foreach(_._2())
      val qs = if (m("reverse") == "1") Registry.all.reverse else Registry.all
      qs.map { q =>
        Try { val df = q.run(spark, dir); (df.columns.toSeq, df.collect()) } match {
          case Success((cols, rows)) =>
            System.err.println(s"[capture] ${q.name} ${rows.length}")
            s"""  "${q.name}": {"rows": ${rows.length}, "fingerprint": "${RegistryMix.fingerprint(cols, rows)}"}"""
          case Failure(e) =>
            System.err.println(s"[capture] ${q.name} FAILED $e")
            s"""  "${q.name}": {"error": "${e.getClass.getName}"}"""
        }
      }
    } finally spark.stop()
    Files.writeString(Paths.get(m("out")), out.mkString("{\n", ",\n", "\n}\n"))
  }
}
