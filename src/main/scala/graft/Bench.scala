package graft
object Bench {

  /** First field of /proc/loadavg (1-minute load), or -1 off-Linux. The
    * bench host is shared: a loadavg near the core count means wall-clock
    * numbers are inflated by scheduling, not by plan cost — recording it
    * makes every round's JSON interpretable (VERDICT r3 finding #2). */
  private[graft] def loadavg(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString
      .split("\\s+").head.toDouble
    catch { case _: Throwable => -1.0 }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Engine.session("graft-bench")
    Engine.quietSweepLogging() // the RDD sweep below is intentional
    val loadBefore = loadavg()
    // Each query runs four times: one untimed warmup (Janino codegen + JIT
    // of the generated classes — a per-plan one-time cost that amortizes to
    // zero in any long-lived or large-scale deployment), then three timed
    // steady-state runs of which the MIN is reported. Profiling showed
    // steady-state noise is strictly additive (occasional cold broadcast
    // subtrees / JIT re-warms / host-load spikes add seconds), so min is the
    // right estimator, and min-of-3 rides out single-run load spikes that
    // min-of-2 recorded verbatim in rounds 2-3.
    // failed query -> (exception class, first line of its message)
    val failed = scala.collection.mutable.LinkedHashMap[String, (String, String)]()
    // Opt-in subset (SPARK_GRAFT_BENCH_ONLY="q138,q136_triangles,..."):
    // time only the queries whose name starts with one of the
    // comma-separated prefixes — the scale-validation loop (several
    // fixture sizes × the heavy family) needs one JVM per fixture, not
    // one per (query, fixture). Off (empty/unset) = the full surface.
    val onlySpec: Option[String] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").filter(
        _.split(',').exists(_.trim.nonEmpty))
    val only: String => Boolean = onlySpec match {
      case Some(spec) =>
        val ps = spec.split(',').map(_.trim).filter(_.nonEmpty)
        name => ps.exists(name.startsWith)
      case None => _ => true
    }
    // every JSON artifact of a restricted run carries the restriction, so a
    // subset record can never be mistaken for (or diffed against) a full one.
    // The env value is USER input — escape it (the Verify.scala discipline:
    // backslash, quote, all control chars), or a spec containing a quote
    // corrupts the very contract line the field marks as restricted.
    def jsonStr(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val subsetJson = onlySpec.fold("")(s => s""","only":${jsonStr(s)}""")
    // Artifact provenance (VERDICT r12 #5): the committed artifact of
    // record is the builder's CLOSING pass; every other invocation (the
    // driver's per-round run, scale sweeps, probes) is a SWEEP and writes
    // to a separate path, so a later working-tree run can never shadow the
    // closing artifact. Role is opt-in via SPARK_GRAFT_BENCH_ROLE=closing;
    // both artifacts carry the role and a unique run_id so any copy of the
    // file is self-identifying without git archaeology.
    val role =
      if (sys.env.get("SPARK_GRAFT_BENCH_ROLE").contains("closing")) "closing"
      else if (sys.env.get("SPARK_GRAFT_BENCH_ROLE").contains("solo")) "solo"
      else "sweep"
    val detailPath =
      if (role == "closing") "BENCH_DETAIL.json" else "BENCH_DETAIL_SWEEP.json"
    val runId = java.time.Instant.now.toString + "-" +
      java.util.UUID.randomUUID.toString.take(8)
    val provJson =
      s""","role":${jsonStr(role)},"run_id":${jsonStr(runId)}"""
    val results = SparkEntry.queries.toSeq.filter(p => only(p._1))
      .sortBy(_._1).map { case (name, fn) =>
      // per-rep (seconds, contemporaneous 1-min load) — r13 VERDICT #7:
      // comparative claims in SCALING artifacts need per-rep ambient load
      // and paired same-JVM mins, so the raw reps are recorded, not only
      // their [min, median] digest
      def once(): Option[(Double, Double)] = {
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch { case e: Throwable =>
          val msg = Option(e.getMessage).flatMap(_.linesIterator.nextOption())
            .getOrElse("")
          failed(name) = (e.getClass.getName, msg)
          System.err.println(s"[bench] $name failed: ${e.getClass.getName}: $msg")
          return None
        }
        Some(((System.nanoTime() - t0) / 1e9, loadavg()))
      }
      val reps = for (_ <- once(); a <- once(); b <- once(); c <- once())
        yield Seq(a, b, c)
      val t = reps.map { rs =>
        val s = rs.map(_._1).sorted
        (s.head, s(1)) // (min, median) — min estimates plan cost, median
                       // exposes host noise without a judge-side probe
      }
      Engine.resetBetweenQueries(spark)
      // host load sampled right after this query's reps: lets a reader
      // normalize each [min, median] for CONTEMPORANEOUS host contention
      // instead of inferring it from the run-level [before, after] pair
      // (VERDICT r10 next-round #6 — per-query, because /proc/loadavg is
      // 1-minute-smoothed and sub-second reps can't resolve finer).
      (name, t, loadavg(), reps)
    }
    def fmt(v: Double): String = f"$v%.4f"
    // SOLO role (r14 VERDICT #5): suite-order interference is real and
    // measured (q252: 12.4 s in-suite vs 4.2 s in a fresh JVM at ×64), so
    // every >2 s heavy gets its min recorded from a DEDICATED one-query
    // JVM (SPARK_GRAFT_BENCH_ROLE=solo SPARK_GRAFT_BENCH_ONLY=<q>), and the
    // ledger below is embedded into the closing artifact — round-over-round
    // reads of the heavies stop depending on cross-artifact archaeology.
    if (role == "solo") {
      val w = new java.io.PrintWriter(
        new java.io.FileWriter("BENCH_SOLO.jsonl", true))
      // ts (epoch seconds) per line since r16: lets a reader detect stale
      // records; the closing embed below also filters on sf (ADVICE r16 #3)
      val ts = System.currentTimeMillis / 1000L
      try results.foreach { case (k, v, l, _) =>
        v.foreach { t =>
          w.println(s"""{"name":${jsonStr(k)},"min":${fmt(t._1)},"median":${fmt(t._2)},"load1m":${fmt(l)},"run_id":${jsonStr(runId)},"sf":${jsonStr(sfDir)},"ts":$ts}""")
        }
      } finally w.close()
    }
    // the closing pass embeds the LATEST solo record per query — the solo
    // ledger is this repo's own strict format, parsed by shape, unknown
    // lines skipped
    val soloJson: String =
      if (role != "closing") ""
      else {
        val f = new java.io.File("BENCH_SOLO.jsonl")
        if (!f.exists) ""
        else try {
          // ts group optional: pre-r16 lines carry no timestamp. Records
          // whose sf differs from THIS closing run's sfDir are skipped —
          // a solo min measured at another scale factor must not ride
          // into the closing artifact as this run's number (ADVICE r16 #3)
          val rx = ("""\{"name":"([^"]+)","min":([0-9.]+),"median":([0-9.]+)""" +
            ""","load1m":([0-9.]+),"run_id":"([^"]+)","sf":"([^"]+)"""" +
            """(?:,"ts":([0-9]+))?\}""").r
          val latest = scala.collection.mutable.LinkedHashMap[String, String]()
          val src = scala.io.Source.fromFile(f)
          try src.getLines().foreach {
            case rx(n, mn, md, ld, rid, s, ts) if s == sfDir => latest(n) =
              s""""$n":{"min":$mn,"median":$md,"load1m":$ld,"run_id":"$rid","sf":"$s"""" +
                Option(ts).fold("")(t => s""","ts":$t""") + "}"
            case _ => ()
          } finally src.close()
          if (latest.isEmpty) ""
          else s""","solo_min":${latest.values.mkString("{", ",", "}")}"""
        } catch { case _: Throwable => "" }
      }
    // Opt-in second pass (SPARK_GRAFT_BENCH_SHUFFLED=1): one more timed run
    // of every query in a FIXED pseudo-random order (md5 of the name — the
    // same order every invocation, so rounds compare), same between-query
    // block-store reset. Comparing its single-run times against the main
    // pass's [min, median] quantifies suite-ORDER interference (cache /
    // broadcast / GC pressure from neighbors) separately from host noise —
    // the question the iterative family's min→median gaps kept re-raising.
    // Off by default: the driver's per-round run pays no extra wall-clock.
    if (sys.env.get("SPARK_GRAFT_BENCH_SHUFFLED").exists(_.nonEmpty)) {
      def md5(s: String): String =
        java.security.MessageDigest.getInstance("MD5").digest(s.getBytes)
          .map("%02x".format(_)).mkString
      // same `only` predicate as the main pass: a subset run must not
      // silently time (and pay for) the full surface in its second pass
      val shuffled = SparkEntry.queries.toSeq.filter(p => only(p._1))
        .sortBy(p => md5(p._1))
        .map { case (name, fn) =>
          val t0 = System.nanoTime()
          val t = try { fn(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) }
            catch { case _: Throwable => None }
          Engine.resetBetweenQueries(spark)
          "\"" + name + "\":" + t.fold("null")(fmt)
        }
      // same role split as detailPath: only a closing run may touch the
      // committed artifact of record (the r12 #5 contract applies to BOTH
      // detail files, not just BENCH_DETAIL.json)
      val shuffledPath =
        if (role == "closing") "BENCH_SHUFFLED.json"
        else "BENCH_SHUFFLED_SWEEP.json"
      try {
        val w = new java.io.PrintWriter(shuffledPath)
        try w.println(s"""{"unit":"sec","order":"md5(name)","single_run":${shuffled.mkString("{", ",", "}")},"sf":"$sfDir"$subsetJson$provJson}""")
        finally w.close()
      } catch { case _: Throwable => () }
    }
    // Failed queries are reported as null and in `failed` — never folded
    // into the total, which would silently shrink (improve) it.
    val total = results.flatMap(_._2.map(_._1)).sum
    val failedJson = failed.keys.map("\"" + _ + "\"").mkString("[", ",", "]")
    val reasonsJson = failed.map { case (k, (cls, msg)) =>
      s"""${jsonStr(k)}:{"class":${jsonStr(cls)},"message":${jsonStr(msg)}}"""
    }.mkString("{", ",", "}")
    val loadAfter = loadavg()
    // Complete per-query [min, median] record — median − min is host noise,
    // min is plan cost — goes to a repo file; the stdout contract line below
    // cannot carry all of it.
    val detail = results.map { case (k, v, _, _) =>
      "\"" + k + "\":" + v.fold("null")(t => s"[${fmt(t._1)},${fmt(t._2)}]")
    }.mkString("{", ",", "}")
    // raw reps with their contemporaneous load: [[sec, load1m], ...] —
    // the paired-methodology carrier (r13 VERDICT #7)
    val repsJson = results.map { case (k, _, _, rs) =>
      "\"" + k + "\":" + rs.fold("null")(_.map(r =>
        s"[${fmt(r._1)},${fmt(r._2)}]").mkString("[", ",", "]"))
    }.mkString("{", ",", "}")
    // per-query contemporaneous host load (1-min loadavg sampled as each
    // query's reps finished) — parallel map so min_median stays
    // schema-stable for round-over-round diffs
    val loadTrace = results.map { case (k, _, l, _) =>
      "\"" + k + "\":" + fmt(l)
    }.mkString("{", ",", "}")
    // queries whose reps ran under heavy CONTEMPORANEOUS host contention
    // (shared host: ambient co-tenant load reaches ~20+ with this repo
    // idle) — their [min, median] is suspect and a round-over-round
    // "regression" on them needs no load archaeology (r11 VERDICT #5):
    // the flag is right here in the artifact
    val loadThreshold = 16.0
    val highLoad = results.collect {
      case (k, _, l, _) if l >= loadThreshold => "\"" + k + "\""
    }.mkString("[", ",", "]")
    try {
      val w = new java.io.PrintWriter(detailPath)
      try w.println(s"""{"unit":"sec","min_median":$detail,"reps_sec_load":$repsJson,"load1m_after_query":$loadTrace,"high_load_suspect":$highLoad,"load1m_suspect_threshold":$loadThreshold,"failed":$failedJson,"failure_reasons":$reasonsJson,"load1m":[${fmt(loadBefore)},${fmt(loadAfter)}],"sf":"$sfDir"$subsetJson$provJson$soloJson}""")
      finally w.close()
    } catch { case _: Throwable => () } // detail file is best-effort
    // The driver reads this line from a bounded tail buffer (~1.8 KB,
    // shared with sbt's trailing "[success]" line). 163 queries at ~14
    // chars/entry no longer fit — r07's capture was truncated mid-JSON and
    // parsed as null, losing the whole record. So EVERYTHING variable-length
    // on the line is charged against ONE strict byte budget:
    //  - the failed list first (a dropped failure must never hide), as qNN
    //    prefixes with an always-exact n_failed count — full names live in
    //    BENCH_DETAIL.json, and a mass-failure run must not be the one run
    //    whose record truncates to unparseable;
    //  - then timed entries SLOWEST FIRST, stopping at the FIRST entry that
    //    does not fit, so the reported set is exactly the slowest-first
    //    prefix the contract claims (no shorter-faster entry admitted past
    //    the cut). Whatever is cut is the sub-noise fast tail; the complete
    //    record is always in BENCH_DETAIL.json (`queries_full`).
    def qkey(k: String): String = k.takeWhile(_ != '_')
    val bySlowest = results.sortBy { case (_, v, _, _) =>
      -v.fold(Double.MaxValue)(_._1) // failed (None) sort first
    }
    val lineBudget = 1250
    var used = 0
    val failedOut = scala.collection.mutable.ArrayBuffer[String]()
    failed.keys.toSeq.sorted.foreach { k =>
      val e = "\"" + qkey(k) + "\""
      if (used + e.length + 1 <= lineBudget) { failedOut += e; used += e.length + 1 }
    }
    val entries = scala.collection.mutable.ArrayBuffer[String]()
    var fits = true
    bySlowest.foreach { case (k, v, _, _) =>
      v.foreach { t =>
        val e = "\"" + qkey(k) + "\":" + f"${t._1}%.3f"
        if (fits && used + e.length + 1 <= lineBudget) {
          entries += e; used += e.length + 1
        } else fits = false
      }
    }
    val qs = entries.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},"n_reported":${entries.size},"n_failed":${failed.size},"queries_full":"$detailPath","queries":$qs,"failed":${failedOut.mkString("[", ",", "]")},"load1m":[${fmt(loadBefore)},${fmt(loadAfter)}],"sf":"$sfDir"$subsetJson}""")
    // drain in-flight unpersist futures BEFORE stop() shuts the executor
    // pool — otherwise their RejectedExecutionException stack traces land
    // in the process tail next to the contract line
    graft.operators.Checkpoints.sweepScratch(spark.sparkContext,
      blocking = true)
    spark.stop()
  }
}
