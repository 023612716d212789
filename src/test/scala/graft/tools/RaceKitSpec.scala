package graft.tools

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The race kit's own contract: a missed [[Race.await]] deadline is one
  * recorded failure, a met one prints nothing, and [[Race.spawn]]
  * forwards its extra JVM flags. Starts no Spark.
  */
class RaceKitSpec extends AnyFunSuite {

  /** What `body` prints, and how many failures it recorded. */
  private def recorded(body: => Unit): (Seq[String], Int) = {
    val out = new java.io.ByteArrayOutputStream()
    val before = Race.failed
    Console.withOut(out)(body)
    (out.toString("UTF-8").linesIterator.toSeq, Race.failed - before)
  }

  test("an await whose deadline passes records exactly one FAIL") {
    val (lines, failures) = recorded {
      assert(!Race.await("a flag never set", pollMs = 10,
        timeoutMs = 200)(false))
    }
    assert(failures == 1)
    assert(lines.count(_.trim.startsWith("FAIL")) == 1, lines)
    assert(lines.exists(_.contains("a flag never set")), lines)
  }

  test("a met await records nothing and prints nothing") {
    var polls = 0
    val (lines, failures) = recorded {
      assert(Race.await("the third poll", pollMs = 10) {
        polls += 1
        polls >= 3
      })
    }
    assert(failures == 0 && lines.isEmpty, lines)
  }

  test("spawn forwards its extra JVM flags") {
    val out = Files.createTempDirectory("graft-racekit")
    val p = Race.spawn(out, "probe", "graft.tools.PrintProperty",
      Seq("graft.racekit.probe"),
      extraJvm = Seq("-Dgraft.racekit.probe=forwarded"))
    assert(p.waitFor() == 0)
    assert(Files.readString(out.resolve("probe.out")).trim == "forwarded")
  }
}

/** Prints the system property named by `args(0)` ([[RaceKitSpec]]'s
  * spawned child).
  */
object PrintProperty {
  def main(args: Array[String]): Unit =
    println(sys.props.getOrElse(args(0), "<unset>"))
}
