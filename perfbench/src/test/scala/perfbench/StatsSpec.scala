package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("the tail is the highest percentile with ten samples beyond it") {
    val t = Stats.timing((1 to 100).map(_.toDouble)).get
    assert(t.n == 100)
    assert(t.p50 == 50.5)
    assert(t.tail == 90.0)
    assert(t.tailP == 90.0)
    for (n <- 11 to 300) {
      val xs = scala.util.Random.shuffle((1 to n).map(_.toDouble))
      val tn = Stats.timing(xs).get
      assert(xs.count(_ > tn.tail) == Stats.MinBeyond, s"n=$n")
      assert(tn.tailP == 100.0 * (n - 10) / n)
    }
  }

  test("ten samples or fewer give no tail") {
    assert(Stats.timing(Seq.empty).isEmpty)
    assert(Stats.timing((1 to 10).map(_.toDouble)).isEmpty)
    assert(Stats.timing((1 to 11).map(_.toDouble)).map(_.tail).contains(1.0))
  }

  test("the median of an odd and an even count") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("the pooled median weighs each kind's median once") {
    assert(Stats.meanOfMedians(Seq(Seq(1.0, 2.0, 3.0), Seq(10.0))) == 6.0)
    // one slow and one fast kind: moving one sample does not move the figure
    val fast = Seq(1.0, 1.1, 1.2, 1.3, 1.4)
    val slow = Seq(5.0, 5.1, 5.2, 5.3)
    assert(Stats.meanOfMedians(Seq(fast, slow)) == Stats.meanOfMedians(Seq(fast.updated(0, 0.9), slow)))
  }

  test("the round count follows from the requested seconds alone") {
    assert(Stats.roundsFor(1, 20.0) == 1)
    assert(Stats.roundsFor(20, 20.0) == 1)
    assert(Stats.roundsFor(29, 20.0) == 1)
    assert(Stats.roundsFor(30, 20.0) == 2)
    assert(Stats.roundsFor(60, 20.0) == 3)
    assert(Stats.roundsFor(20, 10.0) == 2)
    // a busy clock changes nothing: the same arguments, the same count
    val before = Stats.roundsFor(20, 10.0)
    Thread.sleep(50)
    assert(Stats.roundsFor(20, 10.0) == before)
  }

  test("covered time counts overlapping intervals once") {
    assert(Tracer.covered(Nil) == 0.0)
    assert(Tracer.covered(Seq((0.0, 10.0), (5.0, 15.0), (20.0, 25.0))) == 20.0)
    assert(Tracer.covered(Seq((3.0, 4.0), (0.0, 10.0))) == 10.0)
  }

  test("answers compare as sets of rows, numbers to four places") {
    import org.apache.spark.sql.Row
    val want = Seq(Row("a", java.math.BigDecimal.valueOf(150, 2)), Row("b", null))
    assert(Answers.compare(Seq(Row("b", null), Row("a", 1.5)), want).isEmpty)
    assert(Answers.compare(Seq(Row("a", 1.50001), Row("b", null)), want).isEmpty)
    assert(Answers.compare(Seq(Row("a", 1.6), Row("b", null)), want).exists(_.contains("column 1")))
    assert(Answers.compare(Seq(Row("a", 1.5)), want).exists(_.contains("1 rows")))
  }

  test("an operation fails once however many checks it breaks") {
    val t = new Tally
    (1 to 4).foreach(_ => t.attempt())
    t.fail(2, "threw")
    t.fail(2, "wrong answer")
    t.fail(4, "wrong answer")
    assert(t.attempted == 4)
    assert(t.failed == 2)
    assert(t.errorRate == 0.5)
    assert(t.reasons == Seq("op 2: threw", "op 4: wrong answer"))
  }

  test("no attempts is no error") {
    assert(new Tally().errorRate == 0.0)
  }

  test("CPU time counts a thread started after the snapshot from zero") {
    def burn(ms: Long): Unit = {
      val mx = java.lang.management.ManagementFactory.getThreadMXBean
      val end = mx.getCurrentThreadCpuTime + ms * 1000000L
      var x = 0L
      while (mx.getCurrentThreadCpuTime < end) x += 1
    }
    val before = AppCpu.snapshot()
    val burnt = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    // the thread stays alive until it is read: an ended thread is not counted
    val t = new Thread(() => { burn(200); burnt.countDown(); release.await() })
    t.start()
    burn(50)
    burnt.await()
    val ns = AppCpu.since(before)
    release.countDown()
    t.join()
    assert(ns >= 250000000L, s"$ns ns")
  }
}
