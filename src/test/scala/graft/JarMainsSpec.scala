package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The library jar ships the query surface plus the `Verify` driver
  * contract. Timing lives in perfbench/ and plan dumps in the test tree
  * (`PlanDump`), so no other entry point may appear under src/main. */
class JarMainsSpec extends AnyFunSuite {
  test("src/main: graft.Verify is the only main") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"no ${root.toAbsolutePath}")
    val entry = """\bdef\s+main\s*\(|\bextends\s+App\b""".r
    val mains = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        entry.findAllIn(Files.readString(p)).map(_ => root.relativize(p).toString)
      }.toList
    assert(mains == List("graft/Verify.scala"))
    val verify = Files.readString(root.resolve("graft/Verify.scala"))
    assert(verify.startsWith("package graft") && verify.contains("object Verify {"))
  }
}
