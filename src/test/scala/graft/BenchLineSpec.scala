package graft

import org.scalatest.funsuite.AnyFunSuite

/** The official bench line is the one output the harness machine-parses
  * from a 2000-char stdout tail — pin its contract: fits the budget, is
  * genuinely valid JSON (Jackson-parsed, not regex-shaped), `value` is the
  * wall-clock when provided, and serial_sum ≈ sum(queries) + rest even
  * under adversarial name-length/timing mixes.
  */
class BenchLineSpec extends AnyFunSuite {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def parse(line: String): com.fasterxml.jackson.databind.JsonNode =
    mapper.readTree(line) // throws on malformed JSON — that IS the assertion

  private def qmap(node: com.fasterxml.jackson.databind.JsonNode, field: String): Map[String, Double] = {
    val o = node.get(field)
    if (o == null) Map.empty
    else {
      val it = o.fields()
      val b = Map.newBuilder[String, Double]
      while (it.hasNext) { val e = it.next(); b += (e.getKey -> e.getValue.asDouble()) }
      b.result()
    }
  }

  test("line fits the budget and preserves the sum invariant") {
    // adversarial mix: long-named slow queries interleaved with
    // short-named fast ones — the case where a non-prefix pack would
    // break serial_sum == sum(queries) + rest
    val results = (1 to 150).map { i =>
      val name = if (i % 2 == 0) s"x_${"verylongname" * 3}_$i" else s"q$i"
      name -> (if (i % 3 == 0) 5.0 + i * 0.01 else 0.1)
    }
    val line = Bench.officialLine(results, "/root/testdata/sf0.1")
    assert(line.length <= 1960, s"line ${line.length} chars")
    val node = parse(line)
    val qs = qmap(node, "queries")
    assert(node.get("n").asInt() == 150)
    assert(qs.size + node.get("omitted").asInt() == 150)
    val sum = qs.values.sum + node.get("rest").asDouble()
    // 2dp rounding error accumulates at most 0.005 per entry
    assert(math.abs(sum - node.get("serial_sum").asDouble()) <= 0.005 * (qs.size + 2) + 0.01,
      s"serial_sum vs sum(queries)+rest $sum")
    // with no wall given, value falls back to the serial sum
    assert(node.get("value").asDouble() == node.get("serial_sum").asDouble())
    // the kept set must be the SLOWEST queries: every kept time >= every
    // omitted time (prefix-of-sorted property)
    val keptMin = qs.values.min
    val omittedTimes = results.filterNot(r => qs.contains(r._1)).map(_._2)
    assert(omittedTimes.forall(_ <= keptMin + 1e-9))
  }

  test("wall-clock becomes value; serial_sum keeps the per-query total") {
    val results = (1 to 40).map(i => s"q$i" -> 1.0)
    val line = Bench.officialLine(results, "/x", wall = Some(7.25), workers = 8)
    val node = parse(line)
    assert(node.get("value").asDouble() == 7.25)
    assert(node.get("workers").asInt() == 8)
    assert(math.abs(node.get("serial_sum").asDouble() - 40.0) <= 0.21)
  }

  test("empty and tiny result sets stay well-formed") {
    val empty = parse(Bench.officialLine(Seq.empty, "/x"))
    assert(empty.get("n").asInt() == 0 && qmap(empty, "queries").isEmpty)
    val one = parse(Bench.officialLine(Seq("q1" -> 1.234), "/x"))
    assert(one.get("n").asInt() == 1 && one.get("omitted").asInt() == 0)
    assert(one.get("rest").asDouble() == 0.0)
    assert(qmap(one, "queries") == Map("q1" -> 1.23))
    assert(math.abs(one.get("value").asDouble() - 1.23) <= 0.005)
  }

  test("warm reruns ride the line without breaking budget or invariants") {
    val results = (1 to 150).map(i => s"q$i" -> (if (i <= 10) 9.0 else 0.2))
    val warm = (1 to 10).map(i => s"q$i" -> 1.1)
    val line = Bench.officialLine(results, "/x", warm)
    assert(line.length <= 1960, s"line ${line.length} chars")
    val node = parse(line)
    val w = qmap(node, "warm")
    assert(w.size == 10 && w("q1") == 1.1)
    val qs = qmap(node, "queries")
    assert(node.get("n").asInt() == 150 && qs.size + node.get("omitted").asInt() == 150)
    // warm times are a second sample, never folded into the cold total
    assert(math.abs(node.get("value").asDouble() - (10 * 9.0 + 140 * 0.2)) <= 0.01 * 152)
  }

  test("property: random inputs always produce parseable, invariant-keeping lines") {
    // seeded PRNG sweep over name lengths, timing mixes, warm inclusion,
    // and the budget edge — the official line is the only driver-visible
    // perf signal, so its packing logic gets a fuzz, not just examples
    val rnd = new scala.util.Random(20260813L)
    for (trial <- 1 to 200) {
      val n = rnd.nextInt(180)
      val results = (1 to n).map { i =>
        val name = "q" + ("x" * rnd.nextInt(40)) + i
        name -> (rnd.nextDouble() * math.pow(10, rnd.nextInt(4) - 2))
      }
      val warm = results.sortBy(-_._2).take(rnd.nextInt(11)).map { case (k, v) =>
        k -> v * rnd.nextDouble()
      }
      val wall = if (rnd.nextBoolean()) Some(rnd.nextDouble() * 100) else None
      // exercise the exact default budget edge plus nearby values
      val budget = Seq(1600, 1599, 1601, 800 + rnd.nextInt(1600))(rnd.nextInt(4))
      val line = Bench.officialLine(results, "/x", warm, budget = budget,
        wall = wall, workers = 1 + rnd.nextInt(8))
      assert(line.length <= budget + 100, s"trial $trial: ${line.length} > budget $budget")
      val node = parse(line) // malformed JSON throws and fails the trial
      val qs = qmap(node, "queries")
      assert(node.get("n").asInt() == n, s"trial $trial: n")
      assert(qs.size + node.get("omitted").asInt() == n, s"trial $trial: omitted")
      val sum = qs.values.sum + node.get("rest").asDouble()
      assert(math.abs(sum - node.get("serial_sum").asDouble()) <= 0.005 * (qs.size + 2) + 0.02,
        s"trial $trial: serial_sum invariant")
      val expectValue = wall.getOrElse(node.get("serial_sum").asDouble())
      assert(math.abs(node.get("value").asDouble() - expectValue) <= 0.005 + 1e-9,
        s"trial $trial: value source")
      // every warm entry passed in must ride the line (warm is never packed)
      val w = qmap(node, "warm")
      assert(w.keySet == warm.map(_._1).toSet, s"trial $trial: warm inclusion")
    }
  }

  test("cal and proto ride the line; cal is optional") {
    val results = (1 to 30).map(i => s"q$i" -> 0.5)
    val withCal = parse(Bench.officialLine(results, "/x", wall = Some(3.0),
      workers = 4, cal = Some(0.5124)))
    assert(withCal.get("proto").asInt() == 2)
    assert(math.abs(withCal.get("cal").asDouble() - 0.512) <= 0.0005)
    val noCal = parse(Bench.officialLine(results, "/x"))
    assert(noCal.get("cal") == null && noCal.get("proto").asInt() == 2)
    // calibrate() returns a plausible fixed-work time and is repeatable
    // within an order of magnitude (JIT-warmed before timing)
    val c1 = Bench.calibrate(); val c2 = Bench.calibrate()
    assert(c1 > 0.01 && c1 < 30.0, s"cal $c1 implausible")
    assert(c2 / c1 < 10 && c1 / c2 < 10, s"cal unstable: $c1 vs $c2")
  }

  test("fixtures_s, warmup_s and mem_knobs ride the line when provided") {
    val results = (1 to 30).map(i => s"q$i" -> 0.5)
    val node = parse(Bench.officialLine(results, "/x", wall = Some(3.0),
      workers = 4, wallPasses = Some((12.5, 11.75)),
      fixtures = Some(8.25), warmup = Some(95.5), memKnobs = Some(true)))
    assert(node.get("fixtures_s").asDouble() == 8.25)
    assert(node.get("warmup_s").asDouble() == 95.5)
    assert(node.get("mem_knobs").asBoolean())
    assert(node.get("cal_par_end") == null, "absent unless provided")
    val withEnd = parse(Bench.officialLine(results, "/x",
      calPar = Some(0.238), calParEnd = Some(0.422)))
    assert(math.abs(withEnd.get("cal_par_end").asDouble() - 0.422) < 0.0005)
    assert(node.get("wall_pass1").asDouble() == 12.5)
    assert(node.get("wall_pass2").asDouble() == 11.75)
    // absent by default — older-round consumers see no new fields
    val bare = parse(Bench.officialLine(results, "/x"))
    assert(bare.get("fixtures_s") == null && bare.get("warmup_s") == null &&
      bare.get("mem_knobs") == null)
  }

  test("local_dir and qorder ride the line when provided; absent otherwise") {
    val results = (1 to 30).map(i => s"q$i" -> 0.5)
    val node = parse(Bench.officialLine(results, "/x", wall = Some(3.0),
      workers = 4, localDir = Some("shm"), qhash = Some("a1b2c3d4")))
    assert(node.get("local_dir").asText() == "shm")
    assert(node.get("qorder").asText() == "a1b2c3d4")
    // long dir strings are truncated so the budget can't be blown
    val long = parse(Bench.officialLine(results, "/x",
      localDir = Some("/very/long/path/that/goes/on/forever/and/ever")))
    assert(long.get("local_dir").asText().length <= 28)
    val bare = parse(Bench.officialLine(results, "/x"))
    assert(bare.get("local_dir") == null && bare.get("qorder") == null)
  }

  test("heap_gb, cal_par_warm and fixture_errs ride the line when provided") {
    val results = (1 to 30).map(i => s"q$i" -> 0.5)
    val node = parse(Bench.officialLine(results, "/x", wall = Some(3.0),
      workers = 4, heapGb = Some(31.1), calParWarm = Some(0.512),
      fixtureErrs = Some(2), fixtures = Some(8.0)))
    assert(math.abs(node.get("heap_gb").asDouble() - 31.1) < 0.05)
    assert(math.abs(node.get("cal_par_warm").asDouble() - 0.512) < 0.0005)
    assert(node.get("fixture_errs").asInt() == 2)
    // absent by default — older-round consumers see no new fields
    val bare = parse(Bench.officialLine(results, "/x"))
    assert(bare.get("heap_gb") == null && bare.get("cal_par_warm") == null &&
      bare.get("fixture_errs") == null)
  }

  test("per-pass codegen attribution rides the line inside the budget") {
    // a full-suite shape: every optional field provided, 233 queries, the
    // widest warm set and the capped warm_norm — the packing must still
    // hold the 1900-char budget and the sum invariant
    val results = (1 to 233).map(i => s"x_query_name_$i" -> (0.1 + i * 0.03))
    val warm = results.takeRight(22).map { case (k, v) => k -> v / 2 }
    val passes = Seq(Bench.PassCodegen(3512, 81234.5, 112.25),
      Bench.PassCodegen(97, 2050.0, 115.0), Bench.PassCodegen(95, 1990.4, 115.5))
    val line = Bench.officialLine(results, "/data/testdata/sf0.1", warm,
      wall = Some(150.0), workers = 8, cal = Some(0.7),
      warmNorm = warm.take(12).map { case (k, _) => k -> 1.05 },
      calPar = Some(0.4), wallPasses = Some((150.0, 152.0)),
      fixtures = Some(8.0), warmup = Some(400.0), memKnobs = Some(true),
      calParEnd = Some(0.41), calParWarm = Some(0.42), heapGb = Some(89.0),
      fixtureErrs = Some(0), localDir = Some("shm"), qhash = Some("a1b2c3d4"),
      codegen = passes)
    assert(line.length <= 1960, s"line ${line.length} chars")
    val node = parse(line)
    def arr(f: String) = {
      import scala.jdk.CollectionConverters._
      node.get(f).elements().asScala.map(_.asDouble()).toSeq
    }
    assert(arr("cg_n") == Seq(3512.0, 97.0, 95.0))
    assert(arr("cg_ms") == Seq(81235.0, 2050.0, 1990.0))
    assert(arr("jit_mb") == Seq(112.3, 115.0, 115.5))
    val qs = qmap(node, "queries")
    assert(qs.nonEmpty && qs.size + node.get("omitted").asInt() == 233)
    val sum = qs.values.sum + node.get("rest").asDouble()
    assert(math.abs(sum - node.get("serial_sum").asDouble()) <= 0.005 * (qs.size + 2) + 0.01)
    val bare = parse(Bench.officialLine(results, "/x"))
    assert(bare.get("cg_n") == null && bare.get("jit_mb") == null)
    // the live counters: running a block reports non-negative deltas and a
    // JIT code cache that is in use (this JVM has compiled the test code)
    val (v, pc) = Bench.withCodegen(21 * 2)
    assert(v == 42 && pc.compiles >= 0 && pc.compileMs >= 0 && pc.jitMb > 0)
  }

  test("the pass fork count reads /proc/stat's processes line") {
    assert(Bench.forksOf("cpu  1 2 3\nctxt 99\nprocesses 12345\nprocs_running 2\n") ==
      Some(12345L))
    assert(Bench.forksOf("cpu  1 2 3\n").isEmpty)
  }

  test("readPrevBench prefers cal_par_warm over cal_par when present") {
    val dir = java.nio.file.Files.createTempDirectory("benchprevwarm")
    try {
      java.nio.file.Files.write(dir.resolve("BENCH_r14.json"),
        ("""{"parsed":{"cal":0.7,"cal_par":0.345,"cal_par_warm":0.619,""" +
          """"warm":{"q1":1.0}}}""").getBytes("UTF-8"))
      val Some((_, calPar, _)) = Bench.readPrevBench(dir)
      assert(calPar.contains(0.619),
        "warm-phase-adjacent calibration must win as the prev divisor")
    } finally {
      dir.toFile.listFiles().foreach(_.delete()); dir.toFile.delete()
    }
  }

  test("queue order scatters or LPT-sorts; never drops or duplicates names") {
    val names = (1 to 100).map(i => s"q$i")
    val scattered = Bench.queueOrder(names, Map.empty)
    assert(scattered.sorted == names.sorted && scattered != names.sorted.toSeq)
    val past = names.zipWithIndex.map { case (n, i) => n -> i.toDouble }.toMap
    val lpt = Bench.queueOrder(names, past)
    assert(lpt.head == "q100" && lpt.last == "q1" && lpt.sorted == names.sorted)
  }

  test("warm_norm math: cal ratio rescales into prev-box seconds") {
    // this box is 2x SLOWER (calNow 1.0 vs prevCal 0.5): a raw warm time
    // equal to last round's means the plan got 2x FASTER -> ratio 0.5
    val norm = Bench.normalizeWarm(
      warm = Seq("a" -> 2.0, "b" -> 1.0, "c" -> 3.0),
      calNow = 1.0,
      prevWarm = Map("a" -> 2.0, "b" -> 4.0), // c absent last round -> dropped
      prevCal = 0.5)
    val m = norm.toMap
    assert(m.keySet == Set("a", "b"))
    assert(math.abs(m("a") - 0.5) < 1e-9)   // (2.0 * 0.5/1.0) / 2.0
    assert(math.abs(m("b") - 0.125) < 1e-9) // (1.0 * 0.5/1.0) / 4.0
    // degenerate cals produce no ratios rather than Inf/NaN
    assert(Bench.normalizeWarm(Seq("a" -> 1.0), 0.0, Map("a" -> 1.0), 0.5).isEmpty)
    assert(Bench.normalizeWarm(Seq("a" -> 1.0), 1.0, Map("a" -> 1.0), 0.0).isEmpty)
    assert(Bench.normalizeWarm(Seq("a" -> 1.0), 1.0, Map("a" -> 0.0), 0.5).isEmpty)
    // cal_par preferred when BOTH rounds carry one (here the parallel
    // ratio says the boxes are equal while single-thread cal claims 2x —
    // the parallel ratio must win for warm serials)
    val parNorm = Bench.normalizeWarm(Seq("a" -> 2.0), calNow = 1.0,
      prevWarm = Map("a" -> 2.0), prevCal = 0.5,
      calParNow = Some(3.0), prevCalPar = Some(3.0))
    assert(math.abs(parNorm.toMap.apply("a") - 1.0) < 1e-9)
    // one side missing cal_par -> falls back to the single-thread ratio
    val fb = Bench.normalizeWarm(Seq("a" -> 2.0), calNow = 1.0,
      prevWarm = Map("a" -> 2.0), prevCal = 0.5,
      calParNow = Some(3.0), prevCalPar = None)
    assert(math.abs(fb.toMap.apply("a") - 0.5) < 1e-9)
  }

  test("warm_norm rides the line as valid JSON and readPrevBench parses the committed artifact shape") {
    val results = (1 to 30).map(i => s"q$i" -> 1.0)
    val line = Bench.officialLine(results, "/x", warm = Seq("q1" -> 1.5),
      cal = Some(0.7), warmNorm = Seq("q1" -> 1.23, "q2" -> 0.77))
    val node = parse(line)
    assert(math.abs(qmap(node, "warm_norm")("q1") - 1.23) < 0.005)
    assert(math.abs(qmap(node, "warm_norm")("q2") - 0.77) < 0.005)
    assert(line.length <= 1960)
    // round-trip a BENCH_r{N}.json shaped file through readPrevBench
    val dir = java.nio.file.Files.createTempDirectory("benchprev")
    try {
      java.nio.file.Files.write(dir.resolve("BENCH_r07.json"),
        """{"parsed":{"cal":0.757,"warm":{"l4_cache":1.4,"x_knn_join":2.54}}}""".getBytes("UTF-8"))
      java.nio.file.Files.write(dir.resolve("BENCH_r03.json"),
        """{"parsed":{"cal":9.9,"warm":{"l4_cache":9.9}}}""".getBytes("UTF-8"))
      val Some((cal, calPar, warm)) = Bench.readPrevBench(dir)
      assert(cal == 0.757 && calPar.isEmpty &&
        warm == Map("l4_cache" -> 1.4, "x_knn_join" -> 2.54),
        "latest round wins, fields parsed; missing cal_par degrades to None")
      // a pre-cal round (no parsed.cal) degrades to None
      java.nio.file.Files.write(dir.resolve("BENCH_r08.json"),
        """{"parsed":{"warm":{"l4_cache":1.0}}}""".getBytes("UTF-8"))
      assert(Bench.readPrevBench(dir).isEmpty)
    } finally {
      dir.toFile.listFiles().foreach(_.delete()); dir.toFile.delete()
    }
  }

  test("pass walls ride the parsed line; absent when not provided") {
    val results = (1 to 30).map(i => s"q$i" -> 0.5)
    val node = parse(Bench.officialLine(results, "/x", wall = Some(46.1),
      workers = 8, wallPasses = Some((46.1, 52.3))))
    assert(node.get("wall_pass1").asDouble() == 46.1)
    assert(node.get("wall_pass2").asDouble() == 52.3)
    // value stays the min of the two passes, provided separately as wall
    assert(node.get("value").asDouble() == 46.1)
    val without = parse(Bench.officialLine(results, "/x"))
    assert(without.get("wall_pass1") == null)
  }

  test("formatting is locale-independent") {
    val prev = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.GERMANY)
      val line = Bench.officialLine(Seq("q1" -> 1.5, "q2" -> 2.25), "/x")
      assert(!line.contains("1,5") && line.contains("2.25"),
        s"comma-decimal leak: $line")
    } finally java.util.Locale.setDefault(prev)
  }
}
