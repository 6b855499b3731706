package e2ebench

import graft.rass.query.{Intent, SyntheticQueries}

/** The benchmark's own tests: `python3 e2ebench/run.py --selftest`.
  * Prints one line per test and exits non-zero if any fails.
  */
object SelfTest {

  private var failed = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch { case e: Throwable =>
      failed += 1
      println(s"FAIL $name: ${e.getMessage}")
    }

  private def check(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new AssertionError(msg)

  /** Pools for every slot label the templates use. */
  private val pools = SyntheticQueries.Pools(Map(
    "PERSON" -> Seq("alice johnson", "bob smith", "carol lee"),
    "DOCTOR" -> Seq("dr alan reed", "dr betty cole"),
    "CONDITION" -> Seq("asthma", "migraine", "anemia"),
    "MEDICATION" -> Seq("metformin", "albuterol"),
    "PROCEDURE" -> Seq("biopsy", "colonoscopy"),
    "LABTEST" -> Seq("heart rate", "glucose level"),
    "ALLERGY" -> Seq("peanut allergy", "latex allergy"),
    "ORGANIZATION" -> Seq("city clinic", "general hospital"),
    "GENDER" -> Seq("male", "female"),
    "SEVERITY" -> Seq("mild", "severe"),
    "PHONE" -> Seq("555-0110"),
    "EMAIL" -> Seq("alice@example.org"),
    "DATE" -> Seq("2024-01-15"),
    "ICD10_CODE" -> Seq("I21", "J45"),
    "CPT_CODE" -> Seq("99213"),
    "LOINC_CODE" -> Seq("718-7")))

  private def inputs(seed: Long): String =
    Inputs.digest(Inputs.tables(seed, 200, 100),
      Inputs.askStream(pools, seed, blocks = 4),
      Inputs.uploadStream(seed, 20))

  def main(args: Array[String]): Unit = {
    test("the same seed gives byte-identical inputs") {
      check(inputs(7) == inputs(7), "two generations of seed 7 differ")
    }
    test("a different seed gives different inputs") {
      check(inputs(7) != inputs(8), "seeds 7 and 8 generate the same inputs")
    }
    test("the warm-up asks half the intents; every timed block asks each intent once") {
      val s = Inputs.askStream(pools, 3, blocks = 7)
      val (warm, timed) = s.splitAt(Inputs.WarmAsks)
      check(warm.map(_.intent).distinct.size == Inputs.WarmAsks && warm.forall(!_.repeat),
        "the warm-up is not one fresh ask for each of half the intents")
      timed.grouped(Inputs.Block).foreach { b =>
        check(b.map(_.intent) == Intent.all, "a timed block is not one ask per intent")
        check(b.count(_.repeat) == Inputs.Block / 2, "a timed block is not half repeats")
      }
      check(timed.take(Inputs.Block).filter(_.repeat).map(_.intent) == warm.map(_.intent),
        "the first timed block does not repeat the warm-up's intents")
      timed.grouped(2 * Inputs.Block).foreach(p =>
        check(Intent.all.forall(in => p.filter(_.intent == in).map(_.repeat).toSet == Set(true, false)),
          "a pair of blocks does not ask every intent once fresh and once repeated"))
      check(timed.take(2 * Inputs.Block).map(a => a.intent -> a.template).distinct.size == Inputs.Block,
        "an intent asks more than one template in the two-block window")
      check(timed.filter(_.repeat).forall(a => s.takeWhile(_ ne a).exists(e => !e.repeat && e.text == a.text)),
        "a repeat does not repeat an earlier fresh question")
      check(s.forall(a => a.intent == SyntheticQueries.Templates(a.template)._3),
        "an ask's intent is not its template's")
      val other = Inputs.askStream(pools, 8, blocks = 7)
      check(s.map(a => (a.intent, a.template, a.repeat)) == other.map(a => (a.intent, a.template, a.repeat)),
        "the intent, template and repeat pattern depends on the seed")
      check(Inputs.askStream(pools, 3, blocks = 40).map(_.template).distinct.size ==
        SyntheticQueries.Templates.size, "the stream does not cover every template")
    }
    test("each upload adds the ids it declares and carries its probe") {
      val us = Inputs.uploadStream(5, 30)
      check(us.forall(u => u.files.size <= 5), "a request has more than five files")
      check(us.head.files.size == 2 && us.tail.forall(u => u.replaces && u.files.size == 3),
        "requests are not one bundle and a note, plus an edited re-upload from the second on")
      check(us.forall(u => new String(u.files.last.bytes, "UTF-8").contains(u.probe)),
        "a note lacks its probe word")
      check(us.map(_.probe).distinct.size == us.size, "probe words repeat")
      check(Inputs.uploadStream(6, 30).map(_.files.map(_.name)) == us.map(_.files.map(_.name)),
        "the request shape depends on the seed")
    }

    test("tail: below 11 samples there is none") {
      check((1 to 10).forall(n => Stats.tail((1 to n).map(_.toDouble)).isEmpty),
        "a tail was reported with fewer than 11 samples")
    }
    test("tail: the highest percentile with ten samples beyond it") {
      for (n <- Seq(11, 25, 41, 100)) {
        val xs = scala.util.Random.shuffle((1 to n).map(_.toDouble))
        val Some((pct, v)) = Stats.tail(xs)
        // the order statistic at that percentile has ten samples above it
        val at = xs.sorted.apply(math.round((n - 1) * pct / 100).toInt)
        check(xs.count(_ > at) == 10, s"n=$n: p$pct has ${xs.count(_ > at)} samples beyond it")
        check(math.abs(pct - 100.0 * (n - 11) / (n - 1)) < 1e-9, s"n=$n: p$pct")
        check(math.abs(v - (n - 10.0)) < 0.5, s"n=$n: estimate $v far from the 11th largest")
      }
      check(Stats.tail((1 to 41).map(_.toDouble)).get._1 == 75.0, "n=41 is not p75")
    }
    test("the median is the Harrell-Davis estimate") {
      check(Stats.median(Seq(3.0)) == 3.0, "one sample")
      check(math.abs(Stats.median(Seq(1.0, 2.0, 3.0)) - 2.0) < 1e-6, "symmetric three")
      val xs = Seq(0.7, 0.8, 0.9, 1.0, 1.1, 1.2, 1.6, 1.7, 1.8, 2.0, 4.0, 5.0)
      // the Beta(6.5, 6.5)-weighted mean of the order statistics
      check(math.abs(Stats.median(xs) - 1.40925) < 1e-4, s"n=12: ${Stats.median(xs)}")
    }
    test("drift reads zero on a flat window and the trend on a rising one, by whole units") {
      check(Stats.drift(Seq.fill(8)(2.0)) == 0.0, "flat window drifts")
      check(math.abs(Stats.drift(Seq(1.0, 1.0, 1.0, 1.0, 2.0, 2.0, 2.0, 2.0)) - 1.0) < 1e-12,
        "doubling window does not read +1")
      check(Stats.drift(Seq(1.0, 2.0, 1.0, 2.0), unit = 2) == 0.0,
        "halves of whole units with the same mix drift")
      check(Stats.drift(Seq(1.0, 1.0, 2.0, 2.0), unit = 4).isNaN, "one unit has a drift")
    }

    val files = Set("RassEngine", "PatientResolver", "Tables", "Dedup")
    test("call sites map to the engine file that ran the action") {
      Seq("collect at RassEngine.scala:279" -> "RassEngine",
        "parquet at Tables.scala:18" -> "Tables",
        "count at Dedup.scala:1324" -> "Dedup",
        "$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768" -> "other",
        "save at Workloads.scala:408" -> "other",
        "" -> "other").foreach { case (site, want) =>
        val got = SparkTap.layerOf(site, files)
        check(got == want, s"'$site' maps to $got, want $want")
      }
    }

    val stub = "[stub] answer for 'List patients with asthma.' citing d1_c0, s7"
    val hits = Seq("d1_c0" -> 2.5, "s7" -> 1.0)
    test("a faithful answer passes its check") {
      val r = Workloads.checkAnswer(Intent.Hybrid, Intent.Hybrid, stub, stub + " ", hits)
      check(r.isEmpty, s"rejected: $r")
    }
    test("a tampered answer fails its check") {
      Seq(
        "dropped citation" -> Workloads.checkAnswer(Intent.Hybrid, Intent.Hybrid,
          stub.stripSuffix(", s7"), stub.stripSuffix(", s7"), hits),
        "extra citation" -> Workloads.checkAnswer(Intent.Hybrid, Intent.Hybrid,
          stub + ", s9", stub + ", s9", hits),
        "wrong intent" -> Workloads.checkAnswer(Intent.Hybrid, Intent.Semantic, stub, stub, hits),
        "stream differs" -> Workloads.checkAnswer(Intent.Hybrid, Intent.Hybrid, stub,
          stub.replace("d1_c0", "d2_c0"), hits),
        "aggregate bucket" -> Workloads.checkAnswer(Intent.Aggregate, Intent.Aggregate,
          """{"conditionCodeText": [{"key": "asthma", "doc_count": 3}]}""",
          """{"conditionCodeText": [{"key": "asthma", "doc_count": 3}]}""",
          Seq("conditionCodeText=asthma" -> 4.0))).foreach { case (what, r) =>
        check(r.nonEmpty, s"$what passed")
      }
    }

    val manifests = Seq(Seq("test|de|3", "train|en|10"), Seq("shard-0|ab12"), Seq("release|v1"))
    val fp = Map("a/_fingerprint" -> "f1@1", "b/_fingerprint" -> "f2@1")
    test("matching cold and warm manifests pass the release check") {
      val d = ReleaseWorkload.digest(manifests)
      check(ReleaseWorkload.checkBuilds(d, Seq(d, d), fp, fp).isEmpty, "rejected")
    }
    test("a tampered manifest fails the release check") {
      val cold = ReleaseWorkload.digest(manifests)
      val warm = ReleaseWorkload.digest(manifests.updated(0, Seq("tset|de|3", "train|en|10")))
      check(ReleaseWorkload.checkBuilds(cold, Seq(cold, warm), fp, fp).nonEmpty, "passed")
    }
    test("a warm build that rewrites a fingerprint fails the release check") {
      val d = ReleaseWorkload.digest(manifests)
      check(ReleaseWorkload.checkBuilds(d, Seq(d), fp, fp.updated("a/_fingerprint", "f1@2"))
        .nonEmpty, "passed")
    }
    println(if (failed == 0) "selftest: all passed" else s"selftest: $failed failed")
    sys.exit(if (failed == 0) 0 else 1)
  }
}
