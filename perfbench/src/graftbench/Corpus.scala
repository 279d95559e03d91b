package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable

/** One generated revision file and what a correct pipeline must make of it. */
final case class RevisionFile(path: Path, fileNo: Int, bytes: Long,
    events: Long, edges: Seq[(String, String)])

/** Seeded, reference-shaped Kissmetrics NDJSON.
  *
  * The line mix is the one the engine's own pipeline benches use, decided
  * by the global line number so every file size sees the same mix: every
  * 997th line is blank (skipped), every 97th is dirty (an unescaped inner
  * quote that only the repair path parses), every 50th is an alias event,
  * every 29th an 'updated email' event carrying two identity edges, the
  * rest are page views. The seed draws people, aliases, emails and props.
  * Timestamps strictly increase with the line number, so no two lines
  * share a fingerprint and every non-blank line is exactly one event.
  */
object Corpus {

  def write(dir: Path, seed: Long, fileNo: Int, lines: Int, people: Int): RevisionFile = {
    val rnd = new SplittableRandom(seed * 1000003L + fileNo)
    val sb = new java.lang.StringBuilder(lines * 100)
    val edges = Seq.newBuilder[(String, String)]
    var events = 0L
    (0 until lines).foreach { i =>
      val id = (fileNo.toLong - 1) * lines + i + 1
      val p = s"u${rnd.nextInt(people)}"
      val ts = 1700000000L + id * 3
      if (id % 997 == 0) sb.append('\n')
      else {
        events += 1
        if (id % 97 == 0)
          sb.append(s"""{"_p":"$p","_n":"said "hi" loudly","_t":"$ts"}""")
        else if (id % 50 == 0) {
          val a = s"anon${rnd.nextInt(people * 2)}"
          edges += p -> a
          sb.append(s"""{"_p":"$p","_p2":"$a","_n":"alias","_t":"$ts"}""")
        } else if (id % 29 == 0) {
          val ne = s"e${rnd.nextInt(people)}@mail.test"
          val pe = s"e${rnd.nextInt(people)}@mail.test"
          edges += p -> ne
          edges += ne -> pe
          sb.append(s"""{"_p":"$p","_n":"updated email","_t":"$ts","new_email":"$ne","previous_email":"$pe"}""")
        } else
          sb.append(s"""{"_p":"$p","_n":"pageview","_t":"$ts","page":"/p/${rnd.nextInt(1000)}","ua-type":"bot${rnd.nextInt(64)}"}""")
        sb.append('\n')
      }
    }
    val path = dir.resolve(s"$fileNo.json")
    val data = sb.toString.getBytes(UTF_8)
    Files.createDirectories(dir)
    Files.write(path, data)
    RevisionFile(path, fileNo, data.length.toLong, events, edges.result())
  }

  def writeAll(dir: Path, seed: Long, fileNos: Range, lines: Int, people: Int): Seq[RevisionFile] =
    fileNos.map(write(dir, seed, _, lines, people))

  /** Driver-side union-find over the generated edges: every node mapped to
    * the smallest id of its component (self-loops carry no edge). This is
    * the independent reference the engine's identity closure must equal. */
  def closure(edges: Iterable[(String, String)]): Map[String, String] = {
    val parent = mutable.HashMap.empty[String, String]
    def find(x: String): String = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val up = parent(y); parent(y) = r; y = up }
      r
    }
    edges.foreach { case (a, b) =>
      if (a != b) {
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
    }
    parent.keys.map(k => k -> find(k)).toMap
  }
}
