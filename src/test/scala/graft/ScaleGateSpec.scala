package graft

import org.scalatest.funsuite.AnyFunSuite

/** The standing per-key scaling gate (r13): logic pinned on injected data —
  * including the injected-quadratic case the r12 verdict asked the gate to
  * catch — and asserted over the REAL per-key artifacts whenever a bench
  * round has produced both files. */
class ScaleGateSpec extends AnyFunSuite {

  test("an injected quadratic fails the gate; linear keys pass") {
    // linear key: x6 at 10x rows; quadratic key: x60 (the measured r12
    // simjoin_ann shape) — only the quadratic violates
    val sf01 = Map("lin" -> 0.4, "quad" -> 0.4)
    val sf1 = Map("lin" -> 2.4, "quad" -> 24.0)
    val vs = ScaleGate.violations(sf01, sf1)
    assert(vs.map(_.key) == Seq("quad"), vs.mkString(", "))
    assert(vs.head.allowed.isEmpty, "an unallowlisted quadratic must FAIL")
  }

  test("allowlist entries cover a key only within their own cap") {
    // within the entry's own cap (12.0): no violation row at all
    val vs = ScaleGate.violations(Map("multimodal_resize" -> 1.0),
      Map("multimodal_resize" -> 11.5))
    assert(vs.isEmpty, "x11.5 is under BOTH the global threshold and the cap")
    // over the cap AND the global threshold: a FAILING violation — the
    // allowlist must not cover it
    val over = ScaleGate.violations(Map("multimodal_resize" -> 0.3),
      Map("multimodal_resize" -> 5.0))
    assert(over.size == 1 && over.head.allowed.isEmpty,
      "x16.7 exceeds the entry's maxRatio 12.0 — the allowlist must not cover it")
    // the boundedness class rides the entry — pinned via the entry text so
    // the class plumbing stays exercised
    assert(ScaleGate.allow("multimodal_resize").boundedClass.contains("decode-cost"))
  }

  test("an allowlisted key over its own cap FAILS even under the global threshold") {
    // r14 (r13 verdict item 1): multimodal cap is 12.0 < threshold 15.0 —
    // a x13 reading is under the global gate but over the entry's cap, and
    // an uncapped allowlist entry was a permanent blind spot
    val vs = ScaleGate.violations(Map("multimodal_features" -> 0.5),
      Map("multimodal_features" -> 6.5))
    assert(vs.size == 1, vs.mkString(", "))
    assert(vs.head.ratio == 13.0 && vs.head.allowed.isEmpty,
      s"x13 > cap 12 must FAIL: ${vs.head}")
    // under the cap: no violation row at all
    val ok = ScaleGate.violations(Map("multimodal_features" -> 0.5),
      Map("multimodal_features" -> 5.0))
    assert(ok.isEmpty, "x10 is under the cap and the threshold — no violation row")
    // every allow entry keeps a cap at or under the global threshold —
    // an entry with maxRatio > threshold would be the old uncapped blind spot
    ScaleGate.allow.foreach { case (k, e) =>
      assert(e.maxRatio <= ScaleGate.threshold,
        s"$k: maxRatio ${e.maxRatio} exceeds the global threshold — cap it")
    }
  }

  test("sub-second sf1 keys and floored denominators never violate") {
    // 0.01 -> 0.5 is x50 by raw division but below minSf1Sec: ignored;
    // 0.01 -> 1.0 floors the denominator to 0.05 => x20 > 15: violates
    val vs0 = ScaleGate.violations(Map("k" -> 0.01), Map("k" -> 0.5))
    assert(vs0.isEmpty, vs0.mkString(", "))
    val vs1 = ScaleGate.violations(Map("k" -> 0.01), Map("k" -> 1.0))
    assert(vs1.map(_.key) == Seq("k"))
    assert(vs1.head.ratio == 20.0)
  }

  test("an allowlist entry for a key in neither map is stale") {
    val live = ScaleGate.allow.keys.head
    val maps = (Map(live -> 0.1), Map(live -> 0.2))
    assert(ScaleGate.staleAllowEntries(maps._1, maps._2)
      == ScaleGate.allow.keys.toSeq.sorted.filterNot(_ == live))
    // with every allow key present, nothing is stale
    val all = ScaleGate.allow.keys.map(_ -> 0.1).toMap
    assert(ScaleGate.staleAllowEntries(all, all).isEmpty)
  }

  test("bench per_query line parses to the full key map") {
    val line = """{"metric":"per_query","total_sec":1.234,"unit":"sec","sf":"sf0.1","runs":2,"queries":{"q1_agg":0.12,"dedup_minhash":0.3}}"""
    assert(ScaleGate.parseQueries(line)
      == Map("q1_agg" -> 0.12, "dedup_minhash" -> 0.3))
    // graft.Bench writes the per-key compile counts after the times
    val withCompiles = line.stripSuffix("}") +
      ""","codegen_compiles":{"q1_agg":[4,0],"dedup_minhash":[30,31]}}"""
    assert(ScaleGate.parseQueries(withCompiles) == ScaleGate.parseQueries(line))
  }

  test("format drift in the queries map aborts instead of silently shrinking it") {
    // r13 advice: a value the regex cannot read (scientific notation,
    // negative) must fail loudly — a dropped entry is an unwatched key
    val sci = """{"metric":"per_query","queries":{"a":0.12,"b":1.2e-3}}"""
    val err = intercept[IllegalArgumentException](ScaleGate.parseQueries(sci))
    assert(err.getMessage.contains("format drift"), err.getMessage)
    val neg = """{"metric":"per_query","queries":{"a":0.12,"b":-0.3}}"""
    intercept[IllegalArgumentException](ScaleGate.parseQueries(neg))
    val empty = """{"metric":"per_query","queries":{}}"""
    intercept[IllegalArgumentException](ScaleGate.parseQueries(empty))
  }

  test("keys present at only one scale point are reported, not skipped") {
    // r13 advice: violations() can only ratio keys in BOTH maps — a key
    // that errored out of one bench must surface as its own failure class
    val os = ScaleGate.oneSidedKeys(
      Map("both" -> 0.1, "only01" -> 0.2), Map("both" -> 0.5, "only1" -> 3.0))
    assert(os == Seq("only01", "only1"), os.mkString(","))
    assert(ScaleGate.oneSidedKeys(Map("k" -> 1.0), Map("k" -> 2.0)).isEmpty)
  }

  test("a mixed-epoch pairing is refused with a distinct diagnosis, never fake ratios") {
    // r14 verdict #1: HEAD shipped with this spec's REAL case RED because a
    // pre-sweep sf1 leftover paired against a post-sweep sf0.1 map computed
    // x22+ "violations" — the gate must name the stale pairing instead
    def line(sha: String, cpus: String) =
      s"""{"metric":"per_query","git_sha":"$sha","cpus":"$cpus","queries":{"k":0.5}}"""
    val mixedSha = ScaleGate.pairingError(line("aaa111", "4"), line("bbb222", "4"))
    assert(mixedSha.exists(_.contains("STALE PAIRING")), mixedSha.toString)
    assert(mixedSha.exists(m => m.contains("aaa111") && m.contains("bbb222")))
    val mixedCpus = ScaleGate.pairingError(line("aaa111", "4"), line("aaa111", "32"))
    assert(mixedCpus.exists(_.contains("MIXED CONFIG")), mixedCpus.toString)
    val unstamped = ScaleGate.pairingError(
      """{"metric":"per_query","queries":{"k":0.5}}""", line("aaa111", "4"))
    assert(unstamped.exists(_.contains("UNSTAMPED")), unstamped.toString)
    // a same-tree same-config pairing passes through to the ratio math
    assert(ScaleGate.pairingError(line("aaa111", "4"), line("aaa111", "4")).isEmpty)
    // a dirty-tree stamp is its own epoch: dirty vs clean at one SHA differs
    assert(ScaleGate.pairingError(line("aaa111-dirty", "4"), line("aaa111", "4"))
      .exists(_.contains("STALE PAIRING")))
  }

  test("REAL artifacts: same-epoch pairing, no unallowed ratio, no stale allow entries") {
    val f01 = new java.io.File("bench_perkey_sf0.1.json")
    val f1 = new java.io.File("bench_perkey_sf1.json")
    // the files are round-bench products (gitignored); the gate runs
    // whenever the round protocol has produced both, and is additionally
    // enforced by bench_round.sh via the ScaleGate main
    assume(f01.isFile && f1.isFile,
      "per-key bench artifacts not present — run scripts/bench_round.sh")
    def raw(f: java.io.File) =
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    val (raw01, raw1) = (raw(f01), raw(f1))
    // pre-r15 legacy artifacts carry no stamp: cancel visibly rather than
    // compute possibly-cross-epoch ratios; a STAMPED mismatch is a hard FAIL
    val epochErr = ScaleGate.pairingError(raw01, raw1)
    assume(!epochErr.exists(_.contains("UNSTAMPED")),
      "pre-stamp legacy per-key artifacts — regenerate via scripts/bench_round.sh")
    assert(epochErr.isEmpty, epochErr.getOrElse(""))
    val (m01, m1) = (ScaleGate.parseQueries(raw01), ScaleGate.parseQueries(raw1))
    assert(m01.size > 100 && m1.size > 100, s"${m01.size}/${m1.size} keys")
    val bad = ScaleGate.violations(m01, m1).filter(_.allowed.isEmpty)
    assert(bad.isEmpty, "quadratic-plan suspects (fix the plan or allowlist " +
      s"with a boundedness class): ${bad.mkString("; ")}")
    val stale = ScaleGate.staleAllowEntries(m01, m1)
    assert(stale.isEmpty, s"stale scale-gate allow entries: $stale")
    val oneSided = ScaleGate.oneSidedKeys(m01, m1)
    assert(oneSided.isEmpty, s"keys present at only one scale point: $oneSided")
  }
}
