package graft.tools

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The race kit's own contract: a missed [[Race.await]] deadline is one
  * recorded failure, a met one prints nothing, [[Race.errorLine]] keeps
  * a failure's cause readable, and [[Race.spawn]] forwards its extra JVM
  * flags. Starts no Spark.
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

  test("an error line carries the child's fields and the cause's message") {
    val log = Files.createTempFile("graft-racekit", ".jsonl")
    Files.writeString(log, Race.errorLine("error",
      new IllegalStateException("file data/x.parquet vanished"),
      "writer" -> 2, "iter" -> 7) + "\n")
    assert(Race.events(log, "error") == Seq(Map("event" -> "error",
      "writer" -> "2", "iter" -> "7", "kind" -> "IllegalStateException",
      "msg" -> "file data/x.parquet vanished")))
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
