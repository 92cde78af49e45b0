package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Freshness attribution on a synthetic `sources/0` log in the file
  * source's layout: per-batch logs, a `.compact` file folding earlier
  * batches, and hidden `.crc` checksum files that must be ignored.
  */
class SourceLogSpec extends AnyFunSuite {

  private def entry(name: String, batch: Long) =
    s"""{"path":"file:///data/in/$name","timestamp":1700000000000,"batchId":$batch}"""

  private def write(dir: File, name: String, lines: String*): Unit = {
    Files.write(new File(dir, name).toPath,
      ("v1" +: lines).mkString("\n").getBytes(StandardCharsets.UTF_8))
    ()
  }

  private def sourceLog(): File = {
    val dir = Files.createTempDirectory("sourcelog").toFile
    // batches 0-2 folded into 2.compact; 3 and 4 still on their own
    write(dir, "2.compact", entry("a.csv", 0), entry("b.csv", 1), entry("c.csv", 1),
      entry("d.csv", 2))
    write(dir, "3", entry("e.csv", 3))
    write(dir, "4", entry("f.csv", 4), entry("g.csv", 4))
    // checksum siblings carry bytes that look like entries; never read them
    write(dir, ".3.crc", entry("e.csv", 99))
    write(dir, ".2.compact.crc", entry("zz.csv", 7))
    dir
  }

  test("every file maps to the batch named in its entry, compact or not") {
    assert(SourceLog.fileToBatch(sourceLog()) == Map(
      "a.csv" -> 0L, "b.csv" -> 1L, "c.csv" -> 1L, "d.csv" -> 2L,
      "e.csv" -> 3L, "f.csv" -> 4L, "g.csv" -> 4L))
  }

  test("freshness is the batch commit time minus the file's due time") {
    val due = Map("a.csv" -> 1000L, "b.csv" -> 1100L, "e.csv" -> 1500L, "g.csv" -> 2000L,
      "late.csv" -> 2100L)
    val commits = Map(0L -> 1800L, 1L -> 2500L, 3L -> 3000L)
    // g.csv's batch never reported a commit; late.csv is not in the log
    assert(SourceLog.freshnessMs(due, SourceLog.fileToBatch(sourceLog()), commits) ==
      Map("a.csv" -> 800L, "b.csv" -> 1400L, "e.csv" -> 1500L))
  }

  test("tail level keeps at least ten samples beyond it") {
    assert(Stat.tailLevel(200) == 0.95)
    assert(Stat.tailLevel(199) == 0.90)
    assert(Stat.tailLevel(40) == 0.75)
    assert(Stat.tailLevel(19) == 0.5)
    assert(Stat.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }
}
