package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main — runs every declared query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line. `noop` write executes the full plan (unlike count(),
  * which lets Spark prune the compute for select-only queries).
  *
  * Two-session protocol (r17, ends the 8-round streak of single-session
  * false flags — see tools/bench_notes/PROTOCOL.md): the evidence script
  * runs this main TWICE in fresh JVMs. Session A writes its detail to
  * `<detail>_sibling.json`; session B auto-discovers that sibling (env
  * SPARK_GRAFT_BENCH_SIBLING overrides), ships per query the MIN of the
  * two session medians, and lets the auto-vs-prev clause flag only
  * queries above 1.25x vs the previous round in BOTH sessions. A bare
  * driver re-run (no env) still pairs with the COMMITTED sibling — the
  * sibling is accepted only if its recorded git head is at-or-after the
  * last source commit and its sf matches, so a stale sibling can never
  * contribute a min; without a valid sibling the run falls back to the
  * single-session flag and says so in the clause.
  */
object Bench {

  /** The git HEAD this bench ran at, recorded INSIDE the artifact so the
    * staleness guard (tools/check_bench.py) can verify provenance by sha
    * instead of file mtime — mtimes reset to checkout time on a fresh
    * clone, so an mtime guard only works on the producing machine. */
  private[graft] def gitHead(): String =
    try scala.sys.process.Process(Seq("git", "rev-parse", "HEAD")).!!.trim
    catch { case _: Throwable => "unknown" }

  /** Locale-stable number formatting: the artifact line must carry dot
    * decimals under any default locale (r16 ADVICE on the aux benches —
    * applied to this main's hand-built JSON too). */
  private def fmt(v: Double, digits: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))

  /** Optional extra sentence appended to the method note (trend lines,
    * per-round adjudication verdicts) without editing this file. */
  private[graft] def benchNote(): String =
    sys.env.get("SPARK_GRAFT_BENCH_NOTE").map("; " + _).getOrElse("")

  /** Method-note suffix for a given detail artifact: the CHECKED-IN note
    * file `tools/bench_notes/<key>.txt` (key = the detail basename with
    * any `_r<N>` round tag and the extension stripped) plus the
    * SPARK_GRAFT_BENCH_NOTE env sentence. The file is the durable home of
    * an artifact's per-round trend line: an env-only note only exists
    * when a human remembers to export it, so a driver re-run used to
    * silently drop it (round-14 "What's wrong" 2) — a checked-in file the
    * bench always re-reads cannot be lost that way. Content is flattened
    * to one line and quote-sanitized so it embeds in the JSON method
    * string verbatim. */
  private[graft] def noteFor(detailPath: String): String = {
    val key = new java.io.File(detailPath).getName
      .replaceAll("_r\\d+", "").replaceAll("\\.json$", "")
    val f = java.nio.file.Paths.get("tools/bench_notes", key + ".txt")
    val fileNote =
      if (java.nio.file.Files.isRegularFile(f))
        new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
          .trim.replaceAll("\\s+", " ").replaceAll("[\"\\\\]", "'")
      else ""
    (if (fileNote.nonEmpty) "; " + fileNote else "") + benchNote()
  }

  /** The previous round's committed detail file for the CLUSTER artifact
    * series (`BENCH_cluster_r<N>_queries.json`): the highest round below
    * this one, discovered from the detail file's own directory —
    * env-independent, so a bare driver re-run still gets the
    * machine-derived comparison. SPARK_GRAFT_BENCH_PREV overrides — and is
    * the only route for the LOCAL series (`bench_queries.json` is
    * overwritten in place each round, so there are no round-stamped
    * siblings to discover): the evidence script exports it from the
    * previous round's COMMITTED copy via `git show`. */
  private def autoPrevDetail(detailPath: String): Option[java.io.File] =
    sys.env.get("SPARK_GRAFT_BENCH_PREV").map(new java.io.File(_)).orElse {
      val M = "BENCH_cluster_r(\\d+)_queries\\.json".r
      val f = new java.io.File(detailPath).getAbsoluteFile
      f.getName match {
        case M(n) =>
          Option(f.getParentFile.listFiles()).getOrElse(Array.empty)
            .flatMap(p => p.getName match {
              case M(k) if k.toInt < n.toInt => Some(k.toInt -> p)
              case _ => None
            }).sortBy(_._1).lastOption.map(_._2)
        case _ => None
      }
    }

  /** Jackson parse of a detail file's numeric `queries` map (plus the
    * recorded `head`, `sf` and `master`) — a real parser, so format drift
    * cannot silently return an empty comparison (round-14 failure mode). */
  private def parseDetail(f: java.io.File): Option[(Map[String, Double], String, String, String)] =
    try {
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
      val q = if (node == null) null else node.get("queries")
      if (q == null || !q.isObject) None
      else {
        import scala.jdk.CollectionConverters._
        val m = q.fields().asScala
          .filter(_.getValue.isNumber)
          .map(e => e.getKey -> e.getValue.asDouble())
          .filter { case (_, v) => v > 0 }.toMap
        def str(k: String) =
          Option(node.get(k)).map(_.asText("")).getOrElse("")
        Some((m, str("head"), str("sf"), str("master")))
      }
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] WARN: failed to parse detail $f: $e")
        None
    }

  /** True when this run IS session A of the two-session protocol — it
    * must not try to pair with itself or emit a vs-prev clause (the
    * official session B owns both). */
  private[graft] def isSiblingRun(detailPath: String): Boolean =
    new java.io.File(detailPath).getName.endsWith("_sibling.json")

  private[graft] def siblingPathFor(detailPath: String): java.io.File =
    sys.env.get("SPARK_GRAFT_BENCH_SIBLING").map(new java.io.File(_))
      .getOrElse {
        val f = new java.io.File(detailPath).getAbsoluteFile
        new java.io.File(f.getParentFile,
          f.getName.replaceAll("\\.json$", "") + "_sibling.json")
      }

  /** Load and VALIDATE the same-code sibling session's detail: its sf AND
    * master (core count) must match and its recorded head must be
    * at-or-after the last source commit — a stale sibling contributing
    * mins would understate the round, and a sibling measured at a
    * DIFFERENT core count would contaminate scaling runs (the r17 8-core
    * driver run min-paired against the committed 32-core sibling, mixing
    * the two populations), so validation fails CLOSED to single-session
    * mode with a loud warning. */
  private[graft] def loadSibling(detailPath: String, sfDir: String,
      master: String): Option[(String, Map[String, Double])] = {
    val f = siblingPathFor(detailPath)
    if (!f.isFile) {
      System.err.println(s"[bench] no sibling session detail at $f — " +
        "single-session flags (run the evidence script's A/B steps for " +
        "the two-session protocol)")
      return None
    }
    parseDetail(f).flatMap { case (qs, head, sf, sibMaster) =>
      def reject(why: String): Option[(String, Map[String, Double])] = {
        System.err.println(s"[bench] WARN: sibling $f REJECTED ($why) — " +
          "falling back to single-session flags")
        None
      }
      if (qs.isEmpty) reject("no numeric queries")
      else if (sf.nonEmpty && sf != sfDir) reject(s"sf '$sf' != '$sfDir'")
      else if (sibMaster.isEmpty) reject("no recorded master")
      else if (sibMaster != master) reject(s"master '$sibMaster' != '$master'")
      else if (head.isEmpty || head == "unknown") reject("no recorded head")
      else {
        val fresh = try {
          val lastSrc = scala.sys.process.Process(Seq("git", "log", "-1",
            "--format=%H", "--", "src/", "build.sbt")).!!.trim
          lastSrc.nonEmpty && scala.sys.process.Process(Seq("git",
            "merge-base", "--is-ancestor", lastSrc, head)).! == 0
        } catch { case _: Throwable => false }
        if (!fresh) reject(s"recorded head ${head.take(9)} predates the " +
          "last source commit (or freshness could not be verified)")
        else Some((f.getName, qs))
      }
    }
  }

  /** Minimum ABSOLUTE shipped-delta (seconds) for a per-query flag: the
    * ratio rule alone cannot separate sub-quarter-second moves from this
    * box's measured noise — the r17 calibration run had eleven same-code
    * A/B names above 1.25x in both sessions whose largest absolute move
    * was +0.19s, and the r13-adjudicated q01 CONTROL swings +0.68s within
    * ONE session — so moves this small are trend-tracked via the totals
    * and the sf1 gate instead of per-query flags (PROTOCOL.md). */
  private[graft] val FlagFloorSec = 0.25

  /** The per-query flag predicate (see PROTOCOL.md): the shipped value
    * must exceed the previous round's by >=[[FlagFloorSec]] ABSOLUTE, and
    * the >1.25x ratio must hold in THIS session and (when the sibling
    * measured the query) the sibling session too. */
  private[graft] def isFlag(prev: Double, shipped: Double, thisSess: Double,
      sib: Option[Double]): Boolean =
    shipped - prev >= FlagFloorSec && thisSess / prev > 1.25 &&
      sib.forall(_ / prev > 1.25)

  /** The previous detail's per-query medians, when they can anchor this
    * run's ratios. One measured at a DIFFERENT master/core count cannot
    * (r17's committed detail was the driver's 8-core scaling run — pairing
    * 32-core sessions against it flagged half the suite), nor can one that
    * recorded no master, whose core count is unknown — the same rule
    * [[loadSibling]] applies. A rejected detail anchors nothing, loudly. */
  private[graft] def prevAnchor(prevPath: String, master: String): Map[String, Double] =
    parseDetail(new java.io.File(prevPath)) match {
      case Some((qs, _, _, m)) if m == master => qs
      case Some((_, _, _, m)) =>
        val why = if (m.isEmpty) "no recorded master" else s"master '$m' != '$master'"
        System.err.println(s"[bench] WARN: previous detail $prevPath " +
          s"REJECTED ($why) — no auto-vs-prev clause")
        Map.empty[String, Double]
      case None => Map.empty[String, Double]
    }

  /** Cross-round comparison clause + the machine flag list, computed from
    * the SHIPPED per-query values, the raw per-session medians, and the
    * previous round's committed detail. A flag requires [[isFlag]] (both
    * sessions over 1.25x when a valid sibling exists, plus the absolute
    * floor — see PROTOCOL.md); everything formats under Locale.ROOT and
    * is JSON-string-escaped. */
  private def vsPrev(shipped: collection.Map[String, Double],
      thisSession: collection.Map[String, Double],
      sibling: Option[(String, Map[String, Double])],
      prevPath: String, master: String): (String, Seq[String]) = {
    val prev = prevAnchor(prevPath, master)
    val ratios = shipped.toSeq.flatMap { case (n, v) =>
      prev.get(n).map(p => (n, v / p, p, v))
    }
    if (ratios.isEmpty) {
      System.err.println(s"[bench] WARN: previous detail $prevPath exists " +
        "but yielded no comparable queries — the auto-vs-prev clause is " +
        "OMITTED from the method note")
      return ("", Seq.empty)
    }
    val flags = ratios.collect { case (n, _, p, v)
      if thisSession.get(n).exists(t =>
        // a query the sibling lacks (failed there) cannot be cleared by
        // it — the single-session ratio stands
        isFlag(p, v, t, sibling.flatMap(_._2.get(n)))) => n
    }.sorted
    val (wn, wr, wp, wv) = ratios.maxBy(_._2)
    val common = ratios.map(_._1).toSet
    val tPrev = prev.view.filterKeys(common).values.sum
    val tThis = shipped.view.filterKeys(common).values.sum
    val name = new java.io.File(prevPath).getName
    val mode = sibling match {
      case Some((sn, _)) => s"two-session flag, sibling=$sn"
      case None => "SINGLE-SESSION flag - no fresh sibling"
    }
    val flagTxt =
      if (flags.isEmpty) "none"
      else flags.take(8).map { n =>
        val r = shipped(n) / prev(n)
        s"$n ${fmt(r, 2)}x"
      }.mkString(", ") + (if (flags.size > 8) s" (+${flags.size - 8} more)" else "")
    val clause = s"; auto-vs-prev($name, ${ratios.size} common queries, $mode): " +
      s"shipped total ${fmt(tThis, 1)}s vs ${fmt(tPrev, 1)}s " +
      s"(${fmt(tThis / tPrev, 2)}x), max shipped per-query ratio " +
      s"${fmt(wr, 2)}x ($wn ${fmt(wp, 3)}->${fmt(wv, 3)}s), " +
      s"flags(>1.25x in ${if (sibling.isDefined) "BOTH sessions" else "the single session"} AND >=${fmt(FlagFloorSec, 2)}s shipped delta): $flagTxt"
    (BenchPrev.jsonSafe(clause), flags)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // SPARK_GRAFT_MASTER=local-cluster[2,16,4096] (with SPARK_GRAFT_JARS
    // from `sbt package`) times the suite against REAL executor processes —
    // the same convention Verify uses for the multi-JVM correctness gate.
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val builder = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    sys.env.get("SPARK_GRAFT_JARS").foreach(j => builder.config("spark.jars", j))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    BenchLog.quietBoundedWindowWarnings()
    // JIT/codegen warmup so the first measured query doesn't absorb
    // session startup cost: a synthetic agg plus the sf0.001 flagship
    // (exercises the parquet reader, shuffle, window and agg codegen paths).
    // The whole untimed setup (JIT warmup + table cache + the full
    // index-building pass) is WALL-TIMED as warmup_sec and reported in the
    // artifact, so work moved out of per-query medians into the shared
    // session builds stays visible round over round (r17 verdict).
    val warmup0 = System.nanoTime()
    spark.range(1000000).selectExpr("sum(id)").collect()
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    // Pre-warm the per-session table cache (Tables.t persists each table
    // once): cache materialization is one-time setup a production engine
    // does outside query latency, so it shouldn't be attributed to
    // whichever query happens to touch a table first.
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { name =>
      try Tables.t(spark, sfDir, name).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    // Median-of-N per query (default 3) absorbs this box's run-to-run
    // variance; the untimed full pass below builds every shared session
    // index (shingle/signature/simhash-pair/IVF/SQ8/PQ/cluster-label/BPE
    // caches) outside timing, so medians measure queries, not whichever
    // query touched a shared build first. Protocol rationale + the full
    // adjudication history: tools/bench_notes/PROTOCOL.md.
    val rounds = sys.env.getOrElse("SPARK_GRAFT_BENCH_ROUNDS", "3").toInt
    for ((name, fn) <- SparkEntry.queries)
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () } // a failing query lands in failed[] below
    val warmupSec = (System.nanoTime() - warmup0) / 1e9
    val samples = collection.mutable.LinkedHashMap.empty[String, List[Double]]
    // A query that throws must NEVER masquerade as a fast one: round 7
    // shipped sixteen 2–12 ms "medians" that were exception paths (stderr
    // gets truncated out of the driver tail, so the JSON is the only record).
    // Failed queries are excluded from count/total/queries and listed in an
    // explicit "failed" array in both the detail file and the stdout line.
    val failed = collection.mutable.LinkedHashSet.empty[String]
    for (_ <- 1 to rounds; (name, fn) <- SparkEntry.queries) {
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          failed += name
          false
        }
      val dt = (System.nanoTime() - t0) / 1e9
      if (ok) samples.updateWith(name)(prev => Some(dt :: prev.getOrElse(Nil)))
    }
    val results = samples.map { case (name, ts) =>
      val sorted = ts.sorted
      name -> sorted(sorted.size / 2)
    }
    // bench_queries.json is the sf0.1 median table BenchSf1's auto
    // selection and 10x ratios DIVIDE BY — a local sf0.001 iteration run
    // silently overwriting it corrupts every later sf1 ratio (round 10:
    // d02 read as 1.1x super-linear against sf0.001 medians). Default the
    // detail of non-sf0.1 runs to a scale-suffixed file instead.
    // strip trailing slashes first: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1/
    // must still tag as sf0.1 (an empty tag would shunt the detail to
    // bench_queries_.json and silently strand bench_queries.json stale)
    val sfTag = sfDir.replaceAll("/+$", "").replaceAll(".*/", "")
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL",
      if (sfTag == "sf0.1") "bench_queries.json" else s"bench_queries_$sfTag.json")
    val siblingRun = isSiblingRun(detailPath)
    val sibling = if (siblingRun) None else loadSibling(detailPath, sfDir, master)
    // shipped value = min of the two same-code sessions' medians where the
    // sibling has the query; the per-session medians stay available to the
    // flag logic so a flag requires the regression in BOTH sessions
    val shipped = results.map { case (n, v) =>
      n -> sibling.flatMap(_._2.get(n)).map(math.min(v, _)).getOrElse(v)
    }
    val total = if (shipped.nonEmpty) shipped.values.sum else 0.0
    def r3(v: Double): String = fmt(v, 3)
    // Full per-query map goes to a FILE, not stdout: a 196-entry JSON line
    // is long enough to be truncated by tail-capture, losing the whole
    // round's perf signal (round 1's parsed:null). Stdout gets one short
    // totals line.
    val qs = shipped.map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val head = gitHead()
    val (prevNote, flags) =
      if (siblingRun) ("", Seq.empty[String])
      else autoPrevDetail(detailPath)
        .map(f => vsPrev(shipped, results, sibling, f.getPath, master))
        .getOrElse(("", Seq.empty[String]))
    val flagsJson = flags.map("\"" + _ + "\"").mkString("[", ",", "]")
    val sessionsJson = sibling match {
      case Some((sn, sq)) =>
        val common = results.keySet.intersect(sq.keySet)
        s""","sibling":"$sn","sessions":{"this":${r3(results.values.sum)},""" +
          s""""sibling_common":${r3(common.toSeq.map(sq).sum)}}"""
      case None => ""
    }
    val method =
      if (siblingRun)
        "session A (sibling) of the two-session protocol - the official " +
          "session B ships the per-query min and owns the flags; see " +
          "tools/bench_notes/PROTOCOL.md"
      else {
        val pairing = sibling match {
          case Some((sn, _)) => s"shipped per-query values are the min of " +
            s"this session's and the same-code sibling session's medians ($sn)"
          case None => "single-session values (no fresh sibling detail " +
            "was available to pair with)"
        }
        s"warm-cache, median-of-$rounds per query, after one untimed full " +
          s"warm-up pass that builds every shared session index outside " +
          s"timing; $pairing. Queries that throw are excluded from " +
          s"count/total and listed in failed[]. Full protocol + " +
          s"adjudication history: tools/bench_notes/PROTOCOL.md" +
          s"${noteFor(detailPath)}$prevNote"
      }
    val detail =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","count":${shipped.size},"rounds":$rounds,"warmup_sec":${r3(warmupSec)},"failed":$failedJson,"flags":$flagsJson$sessionsJson,"queries":$qs,"sf":"$sfDir","master":"$master","head":"$head","method":"$method"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
      (detail + "\n").getBytes("UTF-8"))
    // The stdout line carries the FULL per-query map: the driver's
    // round-over-round comparator parses stdout, and the 8-query headline
    // subset shipped since the round-1 truncation incident left
    // PERF_r15..r17 with parsed:null / empty per_query (r17 verdict —
    // "the driver's comparison machinery is effectively dead"). ~6 KB on
    // one line is safe for the driver's tail capture; the detail file
    // stays as the durable sibling/vs-prev artifact.
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","count":${shipped.size},"warmup_sec":${r3(warmupSec)},"failed":$failedJson,"flags":$flagsJson,"queries":$qs,"sf":"$sfDir","master":"$master","head":"$head","detail":"$detailPath","method":"warm-cache median-of-$rounds${if (sibling.isDefined) ", two-session min" else ""}${benchNote()}"}""")
    spark.stop()
  }
}
