package graftbench

import java.io.{ByteArrayOutputStream, OutputStream, PrintStream}
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable.ArrayBuffer

/** A size-driven choice the program reported on stderr as a `[graft] ...`
  * line, e.g. `[graft] minhashNearDups: ~20000 docs (~48 MiB est) ->
  * broadcasting the verification side tables (cutoffs: 1000000 rows, ...)`. */
final case class Decision(op: String, estimate: Option[Long],
                          threshold: Option[Long], branch: String, text: String) {
  def toMap: Map[String, Any] = Map("op" -> op, "estimate" -> estimate,
    "threshold" -> threshold, "branch" -> branch, "text" -> text)
}

object Decision {
  private val Estimate = """~(\d+)""".r
  private val Threshold = """(?:cutoffs?|cap|threshold|maxCandidates)\s*[:=]?\s*(\d+)""".r
  private val Branch = """->\s*([A-Za-z][\w-]*)""".r

  def parse(line: String): Decision = {
    val body = line.stripPrefix("[graft]").trim
    val branch = Branch.findFirstMatchIn(body).map(_.group(1))
      .orElse(if (body.contains("skipping")) Some("skip") else None)
      .getOrElse("")
    Decision(body.takeWhile(c => c != ':' && c != ' '),
      Estimate.findFirstMatchIn(body).map(_.group(1).toLong),
      Threshold.findFirstMatchIn(body).map(_.group(1).toLong),
      branch, body)
  }
}

/** Tees stderr so the `[graft]` lines a job prints can be kept with it. */
object Decisions {
  private val lines = ArrayBuffer[String]()

  def install(): Unit = {
    val orig = System.err
    val tee = new OutputStream {
      private val line = new ByteArrayOutputStream()
      override def write(b: Int): Unit = synchronized {
        orig.write(b)
        if (b == '\n') flushLine() else line.write(b)
      }
      override def write(b: Array[Byte], off: Int, len: Int): Unit = synchronized {
        orig.write(b, off, len)
        var i = off
        while (i < off + len) {
          if (b(i) == '\n') flushLine() else line.write(b(i).toInt)
          i += 1
        }
      }
      override def flush(): Unit = orig.flush()
      private def flushLine(): Unit = {
        val s = new String(line.toByteArray, UTF_8)
        line.reset()
        if (s.startsWith("[graft]")) Decisions.synchronized { lines += s }
      }
    }
    System.setErr(new PrintStream(tee, true, "UTF-8"))
  }

  /** The decisions printed since the last call. */
  def take(): Seq[Decision] = synchronized {
    val out = lines.toList.map(Decision.parse)
    lines.clear()
    out
  }
}
