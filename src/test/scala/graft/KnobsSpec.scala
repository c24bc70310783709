package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Every `SPARK_GRAFT_*` environment knob the program reads is documented
  * in the README knob table, and every row there is still read. Paths are
  * relative to the project base directory (the forked test JVM's working
  * directory). */
class KnobsSpec extends AnyFunSuite {

  private val Knob = "SPARK_GRAFT_[A-Z0-9_]+".r

  test("the README knob table lists exactly the knobs under src/main") {
    val files = Files.walk(Paths.get("src/main"))
    val used =
      try files.iterator.asScala.filter(Files.isRegularFile(_))
        .flatMap((p: Path) => Knob.findAllIn(Files.readString(p))).toSet
      finally files.close()
    val documented = Files.readAllLines(Paths.get("README.md")).asScala
      .flatMap("""^\|\s*`(SPARK_GRAFT_[A-Z0-9_]+)`""".r.findFirstMatchIn(_))
      .map(_.group(1)).toSet
    assert(used.nonEmpty)
    assert(used -- documented == Set.empty, "knobs missing from the README table")
    assert(documented -- used == Set.empty, "README rows for knobs nothing reads")
  }
}
