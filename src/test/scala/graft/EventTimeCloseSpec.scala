package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.EventTimeClose

/** The keyed-state close rule as a pure function, the shared gap parse,
  * and a guard that keeps the rule in one place.
  */
class EventTimeCloseSpec extends AnyFunSuite {

  private val gap = 300000L // 5 minutes

  test("close deadline: gap after the newest event, never earlier than before") {
    import EventTimeClose.deadline
    // new key, first batch: C/0 at 600 s
    assert(deadline(None, Some(600000L), 0L, gap) == 900000L)
    // new key whose batch has no ts: watermark + gap
    assert(deadline(None, None, 540000L, gap) == 840000L)
    // live key, out-of-order row (560 s) alone would close it at 860 s
    assert(deadline(Some(900000L), Some(560000L), 540000L, gap) == 900000L)
    // live key, null-ts batch alone would close it at 840 s
    assert(deadline(Some(900000L), None, 540000L, gap) == 900000L)
    // live key, newer event or a watermark past the old deadline extends it
    assert(deadline(Some(900000L), Some(700000L), 540000L, gap) == 1000000L)
    assert(deadline(Some(900000L), None, 800000L, gap) == 1100000L)
    // a zero gap still closes strictly after the watermark
    assert(deadline(None, None, 540000L, 0L) == 540001L)
  }

  test("close deadline: clamps to watermark+1 after a batch spanning years") {
    // the wide-batch timeline: W_OLD at 0 s shares a batch with W_NEW at
    // 94,608,000 s, so the watermark (1 minute) ends ~3 years past W_OLD
    val wm = 94608000000L - 60000L
    assert(EventTimeClose.deadline(None, Some(0L), wm, gap) == wm + 1)
    assert(EventTimeClose.deadline(Some(gap), Some(0L), wm, gap) == wm + 1)
  }

  test("gap parse: day/time intervals in ms, month-bearing intervals rejected") {
    assert(EventTimeClose.gapMs("30 minutes") == 1800000L)
    assert(EventTimeClose.gapMs("1 day 2 hours") == 93600000L)
    val e = intercept[IllegalArgumentException](EventTimeClose.gapMs("1 month"))
    assert(e.getMessage.contains("month-bearing"), e.getMessage)
  }

  test("drift guard: only EventTimeClose sets keyed-state timeouts or parses gaps") {
    // paths resolve against the working directory (sbt forks tests from
    // the project base)
    val root = Paths.get("src/main/scala")
    val sources: Seq[Path] = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.nonEmpty, s"no sources under ${root.toAbsolutePath}")
    val helper = root.resolve("graft/streaming/EventTimeClose.scala")
    for (needle <- Seq("setTimeoutTimestamp(", "IntervalUtils.stringToInterval",
        "flatMapGroupsWithState[")) {
      val holders = sources.filter(p => new String(Files.readAllBytes(p), "UTF-8").contains(needle))
      assert(holders == Seq(helper), s"'$needle' found in $holders")
    }
  }
}
