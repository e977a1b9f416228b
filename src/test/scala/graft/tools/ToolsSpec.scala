package graft.tools

import java.nio.file.{Files, Path, Paths}
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers
import scala.jdk.CollectionConverters._

/** Tooling hygiene: every `graft.tools` main is launched or used by
  * something, and the raw-java launch recipe has one shell copy
  * (`tools/jvm.sh`; build.sbt holds the sbt copy). Paths are relative to
  * the repo root, where the suite runs. */
class ToolsSpec extends AnyFlatSpec with Matchers {

  private def files(dir: String): List[Path] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator.asScala.filter(Files.isRegularFile(_)).toList finally s.close()
  }

  private def text(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")

  behavior of "graft.tools"

  it should "hold only objects a tools/ script or another main source references" in {
    val mains = files("src/main/scala")
    val scripts = files("tools")
    val tools = mains.filter(_.startsWith(Paths.get("src/main/scala/graft/tools")))
    tools should not be empty
    val unreferenced = for {
      t <- tools
      obj <- """(?m)^object (\w+)""".r.findAllMatchIn(text(t)).map(_.group(1)).toList
      word = s"\\b$obj\\b".r
      if !scripts.exists(s => word.findFirstIn(text(s)).isDefined) &&
        !mains.exists(m => m != t && word.findFirstIn(text(m)).isDefined)
    } yield obj
    unreferenced shouldBe empty
  }

  it should "keep the JVM module flags in tools/jvm.sh alone among the scripts" in {
    files("tools").filter(p => text(p).contains("--add-opens"))
      .map(_.getFileName.toString) shouldBe List("jvm.sh")
  }
}
