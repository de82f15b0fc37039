package graft

import org.scalatest.funsuite.AnyFunSuite

/** Role/pairing plumbing of the two-session bench protocol (r16 verdict
  * top task — the end-to-end pairing, min-shipping, both-session flag
  * and stale-sibling rejection are exercised by the evidence script's
  * smoke and self-test steps; these pin the path/role derivations a
  * driver re-run depends on). */
class BenchSiblingSpec extends AnyFunSuite {

  test("a detail path ending in _sibling.json IS the sibling session — " +
      "it must not pair or emit a vs-prev clause") {
    assert(Bench.isSiblingRun("bench_queries_sibling.json"))
    assert(Bench.isSiblingRun("/root/repo/BENCH_cluster_r17_queries_sibling.json"))
    assert(!Bench.isSiblingRun("bench_queries.json"))
    assert(!Bench.isSiblingRun("BENCH_cluster_r17_queries.json"))
  }

  test("the flag predicate: >1.25x in BOTH sessions AND a 0.25s absolute " +
      "shipped delta — sub-quarter-second moves and one-session spikes " +
      "never flag (PROTOCOL.md calibration)") {
    import Bench.isFlag
    // real regression shape: both sessions up 1.5x on a 1s query
    assert(isFlag(prev = 1.0, shipped = 1.5, thisSess = 1.55, sib = Some(1.5)))
    // r17 self-test shape: both sessions over 1.25x but the absolute move
    // is noise-sized (s04: 0.429 -> 0.617 shipped, +0.19s)
    assert(!isFlag(prev = 0.429, shipped = 0.617, thisSess = 0.62, sib = Some(0.63)))
    // r16 shape: one session spikes 1.63x, the sibling is flat
    assert(!isFlag(prev = 1.0, shipped = 1.05, thisSess = 1.63, sib = Some(1.05)))
    // single-session fallback (no sibling measured the query): ratio +
    // floor still required
    assert(isFlag(prev = 1.0, shipped = 1.4, thisSess = 1.4, sib = None))
    assert(!isFlag(prev = 0.2, shipped = 0.3, thisSess = 0.3, sib = None))
  }

  test("sibling pairing validates MASTER: a sibling recorded at a " +
      "different core count (the r17 8-core-vs-32-core contamination) or " +
      "with no recorded master is rejected; a matching one is accepted") {
    if (sys.env.contains("SPARK_GRAFT_BENCH_SIBLING")) cancel("env override set")
    val dir = java.nio.file.Files.createTempDirectory("benchsib").toFile
    val head = Bench.gitHead()
    def write(master: String): String = {
      val masterField = if (master.isEmpty) "" else s""","master":"$master""""
      val sib = new java.io.File(dir, "d_sibling.json")
      val json = s"""{"metric":"total","value":1.0,"queries":{"q01":0.5}""" +
        s""","sf":"/root/testdata/sf0.1","head":"$head"$masterField}"""
      java.nio.file.Files.write(sib.toPath, (json + "\n").getBytes("UTF-8"))
      new java.io.File(dir, "d.json").getPath
    }
    assert(Bench.loadSibling(write("local[8]"), "/root/testdata/sf0.1",
      "local[32]").isEmpty, "8-core sibling must not pair with a 32-core run")
    assert(Bench.loadSibling(write(""), "/root/testdata/sf0.1",
      "local[32]").isEmpty, "a sibling with no recorded master must be rejected")
    assert(Bench.loadSibling(write("local[32]"), "/root/testdata/sf0.1",
      "local[32]").nonEmpty, "a same-master fresh sibling must pair")
  }

  test("the vs-prev anchor validates MASTER like the sibling: a previous " +
      "detail with no recorded master or a different one anchors nothing") {
    val dir = java.nio.file.Files.createTempDirectory("benchprevanchor").toFile
    def write(master: String): String = {
      val masterField = if (master.isEmpty) "" else s""","master":"$master""""
      val f = new java.io.File(dir, "prev.json")
      val json = s"""{"metric":"total","value":1.0,"queries":{"q01":0.5}$masterField}"""
      java.nio.file.Files.write(f.toPath, (json + "\n").getBytes("UTF-8"))
      f.getPath
    }
    assert(Bench.prevAnchor(write(""), "local[32]").isEmpty,
      "a previous detail with no recorded master must be rejected")
    assert(Bench.prevAnchor(write("local[8]"), "local[32]").isEmpty)
    assert(Bench.prevAnchor(write("local[32]"), "local[32]") == Map("q01" -> 0.5))
  }

  test("the official session derives its sibling's path from its own " +
      "detail path (env override aside), so a bare driver re-run pairs " +
      "with the COMMITTED sibling") {
    if (sys.env.contains("SPARK_GRAFT_BENCH_SIBLING")) cancel("env override set")
    assert(Bench.siblingPathFor("bench_queries.json").getName ==
      "bench_queries_sibling.json")
    assert(Bench.siblingPathFor("/root/repo/BENCH_cluster_r17_queries.json")
      .getPath == "/root/repo/BENCH_cluster_r17_queries_sibling.json")
  }
}
