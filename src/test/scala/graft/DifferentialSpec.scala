package graft

import org.apache.spark.sql.functions._

/** Randomized differential tests: distributed operators vs tiny driver-side
  * reference implementations on seeded random inputs. The oracle gate
  * checks one data distribution; these sweep corner cases that
  * distribution never produces (duplicate timestamps on both sides of an
  * as-of, singleton/fully-connected graph mixes, all-equal weighted
  * medians). Seeds are fixed — failures replay exactly.
  */
class DifferentialSpec extends SparkSpec {
  import spark.implicits._

  test("connectedComponents equals driver-side union-find on random graphs") {
    for (seed <- 0 until 5) {
      val rnd = new scala.util.Random(seed)
      val n = 120
      val edges = Seq.fill(80)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // reference: union-find with min-label components
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val touched = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
      val expect = touched.map(v => v -> find(v.toInt).toLong).toMap
      // both dispatch regimes: the driver union-find path (default cap)
      // and the distributed pointer-jumping loop (cap = 0) must agree
      // with the reference AND each other
      val got = graft.dedup.Dedup
        .connectedComponents(edges.toDF("doc_a", "doc_b"), "doc_a", "doc_b")
        .as[(Long, Long)].collect().toMap
      val gotLooped = graft.dedup.Dedup
        .connectedComponents(edges.toDF("doc_a", "doc_b"), "doc_a", "doc_b",
          localEdgeCap = 0)
        .as[(Long, Long)].collect().toMap
      assert(got == gotLooped, s"seed=$seed dispatch regimes disagree")
      // operator labels components by min MEMBER id; union-find roots are
      // min labels too because we always point the larger root at the
      // smaller — but path order can leave a non-min root, so normalize
      // both sides to min-of-component before comparing
      def canon(m: Map[Long, Long]): Map[Long, Long] = {
        val minOf = m.groupBy(_._2).map { case (c, kv) => c -> kv.keys.min }
        m.map { case (v, c) => v -> minOf(c) }
      }
      assert(canon(got) == canon(expect), s"seed=$seed")
    }
  }

  test("asOf (all directions, with/without tolerance) equals brute force on random feeds") {
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    for (seed <- 0 until 3) {
      val rnd = new scala.util.Random(100 + seed)
      // duplicate-heavy: 3 keys, timestamps drawn from just 12 values
      val right = Seq.tabulate(40)(i =>
        (rnd.nextInt(3).toLong, ts(rnd.nextInt(12).toLong * 10), i.toLong, rnd.nextInt(100).toDouble))
      val left = Seq.tabulate(30)(i =>
        (1000L + i, rnd.nextInt(3).toLong, ts(rnd.nextInt(12).toLong * 10 + rnd.nextInt(3))))
      val rightDf = right.toDF("user", "rts", "tb", "v")
      val leftDf = left.toDF("event_id", "user", "lts")
      // reference right side: per (user, rts) keep max tiebreak
      val dedup = right.groupBy(r => (r._1, r._2.getTime))
        .map { case (_, rs) => rs.maxBy(_._3) }.toSeq
      def brute(dir: String, tol: Option[Long]): Map[Long, Option[Double]] =
        left.map { case (id, u, lts) =>
          val cands = dedup.filter(_._1 == u)
          val back = cands.filter(_._2.getTime <= lts.getTime)
            .filter(r => tol.forall(t => lts.getTime - r._2.getTime <= t * 1000))
            .sortBy(_._2.getTime).lastOption
          val fwd = cands.filter(_._2.getTime >= lts.getTime)
            .filter(r => tol.forall(t => r._2.getTime - lts.getTime <= t * 1000))
            .sortBy(_._2.getTime).headOption
          val pick = dir match {
            case "backward" => back
            case "forward"  => fwd
            case "nearest" => (back, fwd) match {
              case (Some(b), Some(f)) =>
                if (lts.getTime - b._2.getTime <= f._2.getTime - lts.getTime) Some(b) else Some(f)
              case (b, f) => b.orElse(f)
            }
          }
          id -> pick.map(_._4)
        }.toMap
      for (dir <- Seq("backward", "forward", "nearest"); tol <- Seq(None, Some(25L))) {
        val got = graft.operators.AsOfJoin
          .asOf(leftDf, rightDf, "user", "lts", "rts", "tb", Seq("v"), tol, dir)
          .select(col("event_id"), col("asof_v"))
          .as[(Long, Option[Double])].collect().toMap
        assert(got == brute(dir, tol), s"seed=$seed dir=$dir tol=$tol")
      }
    }
  }

  test("scd2 equals brute-force collapse-and-interval on random state feeds") {
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    for (seed <- 0 until 4) {
      val rnd = new scala.util.Random(300 + seed)
      // tie-heavy: timestamps from 8 values, 3 states, explicit tiebreak
      val rows = Seq.tabulate(50)(i =>
        (rnd.nextInt(4).toLong, ts(rnd.nextInt(8).toLong * 100), s"s${rnd.nextInt(3)}", i.toLong))
      val expect = rows.groupBy(_._1).flatMap { case (e, rs) =>
        val ordered = rs.sortBy(r => (r._2.getTime, r._4)).map(r => (r._2, r._3))
        val collapsed = ordered.foldLeft(Vector.empty[(java.sql.Timestamp, String)]) {
          case (acc, (t, s)) if acc.nonEmpty && acc.last._2 == s => acc
          case (acc, r) => acc :+ r
        }
        collapsed.zipWithIndex.map { case ((t, s), i) =>
          val to = if (i + 1 < collapsed.length) Some(collapsed(i + 1)._1) else None
          (e, s, t, to, i + 1, to.isEmpty)
        }
      }.toSet
      val got = graft.operators.Snapshots
        .scd2(rows.toDF("e", "t", "s", "tb"), col("e"), col("t"), col("s"), col("tb"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2),
          Option(r.getTimestamp(3)), r.getInt(4), r.getBoolean(5))).toSet
      assert(got == expect, s"seed=$seed")
    }
  }

  test("funnelWithin equals brute-force attribution-window counting") {
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val day = 86400L
    for (seed <- 0 until 4) {
      val rnd = new scala.util.Random(400 + seed)
      val rows = Seq.tabulate(80)(_ =>
        (rnd.nextInt(12).toLong, if (rnd.nextBoolean()) "from" else "to",
          ts(rnd.nextInt(10).toLong * day + rnd.nextInt(1000))))
      val windowDays = 3
      val entered = rows.filter(_._2 == "from").groupBy(_._1)
        .map { case (k, rs) => k -> rs.map(_._3.getTime).min }
      val nConv = entered.count { case (k, t0) =>
        rows.exists(r => r._1 == k && r._2 == "to" &&
          r._3.getTime > t0 && r._3.getTime <= t0 + windowDays * day * 1000)
      }
      val got = graft.analysis.Engagement
        .funnelWithin(rows.toDF("k", "stage", "t"), col("k"), col("stage"),
          col("t"), "from", "to", windowDays)
        .collect().head
      assert(got.getLong(0) == entered.size && got.getLong(1) == nConv.toLong,
        s"seed=$seed got=$got expect=(${entered.size},$nConv)")
    }
  }

  test("pointInInterval equals the brute-force range predicate on random grids") {
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    for (seed <- 0 until 4) {
      val rnd = new scala.util.Random(500 + seed)
      // intervals straddle cell boundaries on purpose (bucket = 100s,
      // bounds NOT multiples of 100); includes zero-length intervals
      val intervals = Seq.tabulate(15) { i =>
        val s = rnd.nextInt(2000).toLong
        (i.toLong, ts(s), ts(s + rnd.nextInt(400).toLong))
      }
      val points = Seq.tabulate(60)(i => (100L + i, ts(rnd.nextInt(2400).toLong)))
      val expect = (for {
        (pid, pt) <- points
        (iid, s, e) <- intervals
        if pt.getTime >= s.getTime && pt.getTime < e.getTime
      } yield (pid, iid)).toSet
      val got = graft.operators.RangeJoin
        .pointInInterval(points.toDF("pid", "pt"), col("pt"),
          intervals.toDF("iid", "s", "e"), col("s"), col("e"), bucketSeconds = 100)
        .select(col("pid"), col("iid")).as[(Long, Long)].collect().toSet
      assert(got == expect, s"seed=$seed")
    }
  }

  test("intervalCoverage equals brute-force interval-union length and island count") {
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    for (seed <- 0 until 4) {
      val rnd = new scala.util.Random(600 + seed)
      val activeSec = 50L
      val rows = Seq.tabulate(60)(i =>
        (rnd.nextInt(5).toLong, ts(rnd.nextInt(600).toLong), i.toLong))
      val expect = rows.groupBy(_._1).map { case (e, rs) =>
        val ivs = rs.map(r => (r._2.getTime / 1000, r._2.getTime / 1000 + activeSec))
          .sortBy(_._1)
        // merge touching/overlapping intervals (start > running max end opens an island)
        val islands = ivs.tail.foldLeft(Vector(ivs.head)) { case (acc, (s, en)) =>
          val (ls, le) = acc.last
          if (s > le) acc :+ ((s, en))
          else acc.init :+ ((ls, math.max(le, en)))
        }
        e -> ((islands.length.toLong, islands.map(i => i._2 - i._1).sum))
      }
      val got = graft.analysis.Stats
        .intervalCoverage(rows.toDF("e", "t", "tb"), col("e"), col("t"), col("tb"), activeSec)
        .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got == expect, s"seed=$seed")
    }
  }

  test("markovTransitions equals brute-force adjacency counting with tie-broken order") {
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    for (seed <- 0 until 4) {
      val rnd = new scala.util.Random(700 + seed)
      val rows = Seq.tabulate(60)(i =>
        (rnd.nextInt(5).toLong, ts(rnd.nextInt(10).toLong * 100), i.toLong, s"s${rnd.nextInt(3)}"))
      val pairs = rows.groupBy(_._1).toSeq.flatMap { case (_, rs) =>
        val ordered = rs.sortBy(r => (r._2.getTime, r._3)).map(_._4)
        ordered.zip(ordered.drop(1))
      }
      val counts = pairs.groupBy(identity).map { case (p, xs) => p -> xs.size.toLong }
      val fromTotals = pairs.groupBy(_._1).map { case (f, xs) => f -> xs.size.toLong }
      def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
      val expect = counts.map { case ((f, t), n) =>
        (f, t) -> ((n, r6(n.toDouble / fromTotals(f).toDouble)))
      }
      val got = graft.analysis.Stats
        .markovTransitions(rows.toDF("e", "t", "tb", "s"),
          col("e"), col("t"), col("tb"), col("s"))
        .collect().map(r => (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getDouble(3)))).toMap
      assert(got == expect, s"seed=$seed")
    }
  }

  test("withSessionId equals brute-force gap-based session assignment") {
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    for (seed <- 0 until 4) {
      val rnd = new scala.util.Random(800 + seed)
      val gap = 30L
      // bursts with gaps exactly AT the threshold (strictly-greater opens)
      val rows = Seq.tabulate(50)(i =>
        (rnd.nextInt(4).toLong, ts(rnd.nextInt(12).toLong * gap), i.toLong))
      val expect = rows.groupBy(_._1).toSeq.flatMap { case (_, rs) =>
        val ordered = rs.sortBy(r => (r._2.getTime, r._3))
        var sid = 0L
        var prev = -1L
        ordered.map { r =>
          if (prev >= 0 && r._2.getTime - prev > gap * 1000) sid += 1
          prev = r._2.getTime
          (r._3, sid)
        }
      }.toMap
      val got = graft.operators.Sessionize
        .withSessionId(rows.toDF("u", "t", "id"), "u", col("t"), col("id"), gap)
        .select(col("id"), col("session_id")).as[(Long, Long)].collect().toMap
      assert(got == expect, s"seed=$seed")
    }
  }

  test("weightedMedian equals the brute-force weighted lower median") {
    for (seed <- 0 until 5) {
      val rnd = new scala.util.Random(200 + seed)
      val rows = Seq.tabulate(60)(_ =>
        (s"g${rnd.nextInt(4)}", rnd.nextInt(8).toDouble, (rnd.nextInt(5) + 1).toLong))
      val expect = rows.groupBy(_._1).map { case (g, rs) =>
        val tot = rs.map(_._3).sum
        val sorted = rs.sortBy(_._2)
        var cum = 0L
        val med = sorted.find { r => cum += r._3; 2 * cum >= tot }.get._2
        g -> ((tot, med))
      }
      val got = graft.analysis.Stats
        .weightedMedian(rows.toDF("g", "v", "w"), col("g"), col("v"), col("w"))
        .as[(String, Long, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got == expect, s"seed=$seed")
    }
  }

  test("rfmSegments with STRING user ids equals brute-force NTILE (the natural-id-type contract)") {
    // the r11 kernel keeps the id UNCAST; this pins the contract the old
    // id.cast("long") silently broke (string ids -> null keys -> empty
    // output). Tiebreaks use the STRING ordering, so ids are crafted to
    // make lexicographic != numeric order (u_2 > u_10).
    def ntileOf(k: Int, ordered: Seq[String]): Map[String, Int] = {
      val n = ordered.size; val base = n / k; val rem = n % k
      ordered.zipWithIndex.map { case (id, i) =>
        id -> (if (i < (base + 1) * rem) i / (base + 1) + 1
               else rem + (i - (base + 1) * rem) / base + 1)
      }.toMap
    }
    def q6d(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    for (seed <- 0 until 3) {
      val rnd = new scala.util.Random(8200 + seed)
      val base = 1704067200L // 2024-01-01T00:00Z, seconds
      val rows = Seq.tabulate(1200) { i =>
        // ~4% null ids and ~7% null ts: both are pinned OUT of the
        // segmentable population (rfmPerUser filters, oracles carry the
        // same WHERE) — the brute force below starts from the same filter
        val uid = if (rnd.nextInt(25) == 0) null else s"u_${rnd.nextInt(400)}"
        val ts: java.sql.Timestamp =
          if (rnd.nextInt(15) == 0) null
          else new java.sql.Timestamp((base + rnd.nextInt(90) * 86400L + rnd.nextInt(86400)) * 1000L)
        (uid, ts, math.round(rnd.nextDouble() * 500 * 100) / 100.0, rnd.nextBoolean())
      }
      val got = graft.analysis.Stats.rfmSegments(
          rows.toDF("uid", "ts", "v", "m"), col("uid"), col("ts"), col("v"), col("m"))
        .as[(Int, Int, Int, Long, Double)].collect()
        .map(r => (r._1, r._2, r._3) -> ((r._4, r._5))).toMap
      // brute force on the driver (UTC dates, exact micro money)
      val kept = rows.filter(r => r._1 != null && r._2 != null)
      val perUser = kept.groupBy(_._1).map { case (uid, rs) =>
        val last = rs.map(_._2.getTime).max
        val freq = rs.count(_._4)
        val moneyMicros = rs.filter(_._4).map(r => math.round(q6d(r._3) * 1e6)).sum
        (uid, last, freq.toLong, moneyMicros)
      }.toSeq
      val cmaxDay = java.time.Instant.ofEpochMilli(perUser.map(_._2).max)
        .atZone(java.time.ZoneOffset.UTC).toLocalDate
      val pu = perUser.map { case (uid, last, freq, money) =>
        val rdays = java.time.temporal.ChronoUnit.DAYS.between(
          java.time.Instant.ofEpochMilli(last).atZone(java.time.ZoneOffset.UTC).toLocalDate, cmaxDay)
        (uid, rdays, freq, money)
      }
      val rT = ntileOf(5, pu.sortBy { case (uid, rd, _, _) => (-rd, uid) }.map(_._1))
      val fT = ntileOf(5, pu.sortBy { case (uid, _, f, _) => (f, uid) }.map(_._1))
      val mT = ntileOf(5, pu.sortBy { case (uid, _, _, m) => (m, uid) }.map(_._1))
      val expect = pu.groupBy(u => (rT(u._1), fT(u._1), mT(u._1))).map { case (cell, us) =>
        val money = us.map(_._4).sum.toDouble / 1e6
        cell -> ((us.size.toLong, q6d(money / us.size)))
      }
      assert(got == expect, s"seed=$seed")
    }
  }

  test("pageRank equals an independent driver-side micro-long implementation on random graphs") {
    // VERDICT r11 #5: pagerank's 100x parity can't come from the DuckDB
    // oracle (recursive SQL exhausts its spill at sf10) — so the fixpoint
    // algebra is pinned here against an INDEPENDENT reference: dense
    // driver-side arrays accumulating the quantized contributions as exact
    // micro-unit longs (the same contract — r6-quantized contributions,
    // exact decimal sum, per-iteration re-round — expressed with none of
    // the distributed machinery: no joins, no decimal type, no shuffle).
    // Graphs sweep the corner cases the oracle distribution never hits:
    // dangling sinks, self-loops, parallel edges, disconnected stars.
    // Scale evidence (sf3/sf10 replicas) is recorded in SURVEY §5.
    for (seed <- 0 until 5; iters <- Seq(1, 3, 5)) {
      val rnd = new scala.util.Random(seed)
      val nMax = 60
      val raw = Seq.fill(110)((rnd.nextInt(nMax).toLong, rnd.nextInt(nMax).toLong)) ++
        Seq((7L, 7L), (8L, 9L), (8L, 9L)) // self-loop + parallel edge, always
      val d = if (seed % 2 == 0) 0.85 else 0.75
      // both dispatch regimes (round 15): the driver micro-long path
      // (default cap) and the distributed loop (cap = 0) must agree with
      // the reference AND each other
      val got = graft.analysis.Graph
        .pageRank(raw.toDF("s", "t"), col("s"), col("t"), iters, d)
        .as[(Long, Double)].collect().toMap
      val gotLooped = graft.analysis.Graph
        .pageRank(raw.toDF("s", "t"), col("s"), col("t"), iters, d,
          localEdgeCap = 0)
        .as[(Long, Double)].collect().toMap
      assert(got == gotLooped, s"seed=$seed iters=$iters d=$d dispatch regimes disagree")

      // independent reference: micro-long accumulation on dense arrays
      val edges = raw.distinct
      val nodes = edges.flatMap { case (a, b) => Seq(a, b) }.distinct.sorted
      val idx = nodes.zipWithIndex.toMap
      val out = new Array[Long](nodes.length)
      edges.foreach { case (a, _) => out(idx(a)) += 1 }
      val n = nodes.length.toDouble
      val base = (1.0 - d) / n
      def q(x: Double): Double = math.floor(x * 1.0e6 + 0.5) / 1.0e6
      var rank = Array.fill(nodes.length)(q(1.0 / n))
      for (_ <- 0 until iters) {
        val micro = new Array[Long](nodes.length)
        edges.foreach { case (a, b) =>
          val c = q(rank(idx(a)) / out(idx(a)).toDouble)
          micro(idx(b)) += math.round(c * 1.0e6)
        }
        rank = micro.map(m =>
          q(base + d * (BigDecimal(m) / BigDecimal(1000000)).toDouble))
      }
      val expect = nodes.zipWithIndex.map { case (v, i) => v -> rank(i) }.toMap
      assert(got == expect, s"seed=$seed iters=$iters d=$d")
    }
  }

  test("BPE train + encode equal an independent merge-algebra implementation on randomized word tables") {
    // Independent reference, structurally unlike graft.text.Bpe:
    //  * trainer: immutable List symbols, pair stats via groupBy-fold, best
    //    pair by FULL SORT (vs Bpe's mutable arrays + linear argmax)
    //  * encoder: merges applied SEQUENTIALLY in rank order (a new pair
    //    formed by merge k contains the rank-k symbol, which only
    //    participates in later-trained merges — so sequential replay equals
    //    Bpe.encodeWord's greedy lowest-rank-present loop; Sennrich 2016)
    def applyRef(syms: List[String], p: (String, String)): List[String] = syms match {
      case a :: b :: rest if a == p._1 && b == p._2 => (a + b) :: applyRef(rest, p)
      case a :: rest => a :: applyRef(rest, p)
      case Nil => Nil
    }
    def trainRef(wf: Seq[(String, Long)], n: Int): Seq[(String, String)] = {
      var vocab = wf.map { case (w, f) => (w.map(_.toString).toList, f) }
      var merges = Vector.empty[(String, String)]
      var done = false
      while (!done && merges.size < n) {
        val stats = vocab
          .flatMap { case (s, f) => s.zip(s.drop(1)).map(p => (p, f)) }
          .groupBy(_._1).map { case (p, xs) => (p, xs.map(_._2).sum) }
        stats.toSeq.sortBy { case ((l, r), c) => (-c, l, r) }.headOption match {
          case Some((p, c)) if c >= 2 =>
            merges :+= p
            vocab = vocab.map { case (s, f) => (applyRef(s, p), f) }
          case _ => done = true
        }
      }
      merges
    }
    def encodeRef(word: String, merges: Seq[(String, String)]): Seq[String] =
      merges.foldLeft(word.map(_.toString).toList)(applyRef)

    for (seed <- 0 until 3) {
      val rnd = new scala.util.Random(7100 + seed)
      val alphabet = "abcdef"
      // >=1k distinct word types with hash-derived (deterministic) freqs
      val types = Seq.fill(2500) {
        val len = 1 + rnd.nextInt(8)
        Seq.fill(len)(alphabet(rnd.nextInt(alphabet.length))).mkString
      }.distinct
      assert(types.size >= 1000, s"seed gave only ${types.size} types")
      val wf = types.map(w => (w, (math.abs(w.hashCode) % 7 + 1).toLong))
      val expect = trainRef(wf, 60)
      val got = graft.text.Bpe.trainLocal(wf, 60)
      assert(got == expect, s"seed=$seed: merge sequences diverge")
      val rank = got.zipWithIndex.toMap
      // every trained type AND unseen words encode identically on both paths
      val unseen = Seq.fill(200)(
        Seq.fill(1 + rnd.nextInt(10))(alphabet(rnd.nextInt(alphabet.length))).mkString)
      for (w <- types ++ unseen)
        assert(graft.text.Bpe.encodeWord(w, rank).toSeq == encodeRef(w, got),
          s"seed=$seed word=$w")
    }
  }
}
