package graftbench

import scala.collection.mutable.ArrayBuffer

/** Tests of the benchmark's own code (statistics, open-loop timing, seeded
  * schedules, failure counting). No Spark. Run with
  * `python3 graftbench/run.py --selftest`; exits non-zero on any failure. */
object SelfTest {

  private val failures = ArrayBuffer[String]()
  private var passed = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; passed += 1; println(s"ok   $name") } catch {
      case e: Throwable => failures += name; println(s"FAIL $name: ${e.getMessage}")
    }

  private def check(cond: Boolean, what: => String): Unit = if (!cond) throw new AssertionError(what)

  private def close(a: Double, b: Double): Boolean = math.abs(a - b) < 1e-9

  def main(args: Array[String]): Unit = {
    test("percentile rule: highest ladder percentile with >= 10 samples beyond it") {
      val want = Seq(5 -> None, 10 -> None, 19 -> None, 20 -> Some(50.0), 39 -> Some(50.0),
        40 -> Some(75.0), 99 -> Some(75.0), 100 -> Some(90.0), 200 -> Some(95.0),
        999 -> Some(95.0), 1000 -> Some(99.0), 10000 -> Some(99.9))
      want.foreach { case (n, p) =>
        check(Stats.tailPercentile(n) == p, s"n=$n: ${Stats.tailPercentile(n)} != $p")
        p.foreach(pp => check(n - Stats.rank(pp, n) >= 10, s"n=$n p=$pp leaves < 10 beyond"))
      }
      val xs = (1 to 100).map(_.toDouble)
      check(Stats.tail(xs) == Some(90.0 -> 90.0), s"tail of 1..100 = ${Stats.tail(xs)}")
      check(Stats.tail((1 to 15).map(_.toDouble)).isEmpty, "15 samples have no reportable tail")
    }

    test("median and IQR match Python's statistics module") {
      check(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0, "odd median")
      check(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5, "even median")
      val (q1, q2, q3) = Stats.quartiles((1 to 10).map(_.toDouble))
      check(close(q1, 2.75) && close(q2, 5.5) && close(q3, 8.25), s"quartiles 1..10 = ($q1, $q2, $q3)")
      check(Stats.quartiles(Seq(3.0, 1.0, 2.0)) == ((1.0, 2.0, 3.0)), "quartiles of three")
      check(Stats.quartiles(Seq(5.0, 1.0)) == ((0.0, 3.0, 6.0)), "quartiles of two extrapolate")
      check(close(Stats.iqrShare((1 to 10).map(_.toDouble)), 1.0), "IQR share of 1..10")
      check(close(Stats.mean(Seq(1.0, 2.0, 6.0)), 3.0) && close(Stats.gmean(Seq(1.0, 2.0, 4.0)), 2.0), "means")
    }

    test("open loop: latency counts from the due time, so a stall delays later requests") {
      val offsets = Seq(0.0, 0.1, 0.2, 0.3)
      val samples = OpenLoop.run(offsets, offsets.indices, connections = 1) { i =>
        Thread.sleep(if (i == 0) 600 else 10); () => Outcome.Ok
      }
      check(samples.length == 4, "all requests sampled")
      check(samples(0).latencyMs >= 590, s"stalled request ${samples(0).latencyMs}")
      (1 to 3).foreach { i =>
        val s = samples(i)
        check(s.latencyMs >= 600 - 100 * i - 20,
          s"request $i latency ${s.latencyMs} ms does not include the wait behind the stall")
        check(s.serviceMs < 300, s"request $i service ${s.serviceMs} ms")
        check(s.lagMs < 50, s"generator lag ${s.lagMs} ms")
      }
      val free = OpenLoop.run(offsets, offsets.indices, connections = 4) { i =>
        Thread.sleep(if (i == 0) 600 else 10); () => Outcome.Ok
      }
      check(free.drop(1).forall(_.latencyMs < 300), "with spare connections later requests do not wait")
    }

    test("seeded schedule: same seed, same arrivals; every seed, the same gaps") {
      val a = OpenLoop.poissonArrivals(42, 1000, 500.0)
      check(a == OpenLoop.poissonArrivals(42, 1000, 500.0), "same seed differs")
      check(a != OpenLoop.poissonArrivals(43, 1000, 500.0), "different seeds agree")
      check(a.length == 1000 && a == a.sorted && a.forall(t => t > 0 && t < 500), "offsets sorted within the window")
      def gaps(xs: Vector[Double]) = (0.0 +: xs).zip(xs).map { case (x, y) => y - x }
      val g = gaps(a)
      check(gaps(OpenLoop.poissonArrivals(43, 1000, 500.0)).sorted.zip(g.sorted).forall { case (x, y) => close(x, y) },
        "seeds differ in their gaps")
      // exponential gaps, mean 500 / 1001 s
      check(math.abs(Stats.mean(g) - 500.0 / 1001) < 1e-9, s"mean gap ${Stats.mean(g)}")
      check(math.abs(Stats.median(g) / Stats.mean(g) - math.log(2)) < 0.01, s"median gap ${Stats.median(g)}")
    }

    test("serve figure: geometric mean over types of each type's median") {
      val xs = Seq("a" -> 100.0, "a" -> 900.0, "a" -> 110.0, "b" -> 400.0, "b" -> 390.0, "b" -> 5000.0)
      check(close(Serve.typeGmean(xs), math.sqrt(110.0 * 400.0)), s"typeGmean ${Serve.typeGmean(xs)}")
    }

    test("failure counting: exceptions and wrong outputs fail, and all are attempted") {
      val os = Seq(Attempt(Outcome.Ok), Attempt(throw new RuntimeException("boom")),
        Attempt(Outcome.fail("wrong rows")), Attempt(Outcome.Ok))
      check(Attempt.counts(os) == ((4, 2)), s"counts ${Attempt.counts(os)}")
      check(os(1).failure.exists(_.contains("boom")), "exception message kept")
      val samples = OpenLoop.run(Seq(0.0, 0.01, 0.02), Seq(0, 1, 2), connections = 2) { i =>
        if (i == 1) throw new IllegalStateException("server error")
        else if (i == 2) () => { Thread.sleep(300); Outcome.fail("wrong rows") }
        else () => Outcome.Ok
      }
      check(samples.length == 3 && Attempt.counts(samples.map(_.outcome)) == ((3, 2)),
        "a throwing request and a failed check are counted as attempted and failed")
      check(samples(2).serviceMs < 200, s"the check ran inside the timed request: ${samples(2).serviceMs} ms")
    }

    test("response parsers: JSON rows and MVT features") {
      check(Inputs.jsonRows("""[{"a":{"b":1},"s":"}{"},{"a":[1,2]}]""") == 2, "json rows")
      check(Inputs.jsonRows("[]") == 0, "empty json rows")
      // a tile with one layer (field 3) holding two features (field 2)
      val feature = Array[Byte](0x12, 0x00)
      val layer = Array[Byte](0x0a, 0x01, 'q') ++ feature ++ feature
      val tile = Array[Byte](0x1a, layer.length.toByte) ++ layer
      check(Inputs.mvtFeatures(tile) == 2, s"mvt features ${Inputs.mvtFeatures(tile)}")
    }

    println(s"selftest: $passed passed, ${failures.length} failed")
    System.exit(if (failures.isEmpty) 0 else 1)
  }
}
