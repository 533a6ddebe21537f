package graft

import org.apache.spark.sql.functions._

import graft.curation.Curation
import graft.text.Redact

/** Curation operators: decontamination, line dedup, PII redaction,
  * sequence packing, mixture weighting, semantic dedup. The oracle gate
  * covers the corpus bindings; these specs pin the behavioral contracts on
  * constructed fixtures the word-soup corpus can't express (multi-line
  * docs, real PII strings, packing boundaries).
  */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  test("decontaminate flags exactly the docs sharing an n-gram with the benchmark") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta"),      // shares "alpha beta gamma"
      (2L, "epsilon zeta eta theta"),      // clean
      (3L, "x y alpha beta gamma")         // shares the same trigram mid-doc
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "alpha beta gamma PRIME")).toDF("doc_id", "text")
    val out = Curation.decontaminate(corpus, bench, col("doc_id"), col("text"), 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    // doc 1 shingles: {alpha beta gamma, beta gamma delta}; only the first is in the benchmark
    assert(out(1L) == ((1L, true)))
    assert(out(2L) == ((0L, false)))
    assert(out(3L) == ((1L, true)))
  }

  test("decontaminate counts DISTINCT overlapping shingles once") {
    // doc repeats the contaminated trigram; distinct-shingle semantics count it once
    val corpus = Seq((1L, "a b c a b c a b c")).toDF("doc_id", "text")
    val bench = Seq((9L, "a b c")).toDF("doc_id", "text")
    val out = Curation.decontaminate(corpus, bench, col("doc_id"), col("text"), 3).collect()
    // doc shingles: {a b c, b c a, c a b} -> only "a b c" is in the benchmark
    assert(out.head.getLong(1) == 1L && out.head.getBoolean(2))
  }

  test("bloom decontamination screens with zero false negatives") {
    val docs = GraftSession.table(spark, "/root/testdata/sf0.001", "documents")
    val corpus = docs.filter(col("doc_id") % 50 =!= 0)
    val bench = docs.filter(col("doc_id") % 50 === 0)
    val exact = Curation.decontaminate(corpus, bench, col("doc_id"), col("text"), 3)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val bloom = Curation.decontaminateBloom(corpus, bench, col("doc_id"), col("text"), 3,
        expectedItems = 10000L, numBits = 1L << 16)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(bloom.keySet == exact.keySet)
    // one-sided error: everything exactly contaminated MUST be flagged
    exact.foreach { case (d, c) => if (c) assert(bloom(d), s"false negative on doc $d") }
    // and the screen should not flag everything (fp rate is bounded)
    val fp = bloom.count { case (d, c) => c && !exact(d) }
    val clean = exact.count(!_._2)
    assert(clean == 0 || fp.toDouble / clean < 0.5, s"fp=$fp of $clean clean docs")
  }

  test("lineDedup keeps only first occurrences and reassembles in order") {
    val docs = Seq(
      (1L, Seq("shared header", "body one", "shared footer")),
      (2L, Seq("shared header", "body two", "shared footer")),
      (3L, Seq("shared header", "shared header")) // repeat within one doc
    ).toDF("doc_id", "lines")
    val out = Curation.lineDedup(docs, col("doc_id"), col("lines"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // doc 1 saw every line first: keeps all three
    assert(out(1L) == ((3L, 3L, "shared header\nbody one\nshared footer")))
    // doc 2 keeps only its unique body
    assert(out(2L) == ((3L, 1L, "body two")))
    // doc 3: both lines are repeats of doc 1's header
    assert(out(3L) == ((2L, 0L, "")))
  }

  test("redactPii masks urls, emails and phones without cross-matching") {
    val df = Seq(
      (1L, "see https://ex.ample/a?q=1 mail me at jo.doe+x@mail.example or call +254712345678"),
      (2L, "no pii here at all"),
      (3L, "two mails a@b.co c@d.org and short +123 not a phone")
    ).toDF("id", "text")
    val out = df.select((col("id") +: Redact.piiColumns(col("text"))): _*)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(out(1L) == ((1L, 1L, 1L, "see <URL> mail me at <EMAIL> or call <PHONE>")))
    assert(out(2L) == ((0L, 0L, 0L, "no pii here at all")))
    // +123 is below the 7-digit phone floor; both emails masked
    assert(out(3L) == ((0L, 2L, 0L, "two mails <EMAIL> <EMAIL> and short +123 not a phone")))
  }

  test("packStats fills fixed chunks: doc joins the chunk its first token lands in") {
    // one shard; ctx=10; docs of 4,5,3,10,1 tokens: starts 0,4,9,12,22
    val docs = Seq((1L, 4L), (2L, 5L), (3L, 3L), (4L, 10L), (5L, 1L))
      .toDF("doc_id", "n_tok").withColumn("shard", lit(0L))
    val out = Curation.packStats(docs, col("doc_id"), col("n_tok"), col("shard"), 10)
      .collect().map(r => r.getLong(1) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(out(0L) == ((3L, 12L))) // docs 1,2,3 start at 0,4,9
    assert(out(1L) == ((1L, 10L))) // doc 4 starts at 12
    assert(out(2L) == ((1L, 1L)))  // doc 5 starts at 22
  }

  test("packStats shards independently and conserves tokens") {
    val docs = Seq.tabulate(100)(i => (i.toLong, (i % 7 + 1).toLong))
      .toDF("doc_id", "n_tok")
      .withColumn("shard", Curation.hashShard(col("doc_id"), 4))
    val out = Curation.packStats(docs, col("doc_id"), col("n_tok"), col("shard"), 16)
    val total = out.agg(sum("n_tokens")).head.getLong(0)
    assert(total == docs.agg(sum("n_tok")).head.getLong(0))
    assert(out.select("shard").distinct().count() == 4)
    // every non-final chunk of a shard is filled past the boundary check:
    // chunk ids per shard are contiguous from 0
    val chunks = out.select("shard", "chunk_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq)
    chunks.foreach { case (_, ids) => assert(ids == (0L until ids.length).toSeq) }
  }

  test("mixture weighting is deterministic and tracks requested rates") {
    val docs = Seq.tabulate(4000)(i => (i.toLong, if (i % 2 == 0) "keep_all" else "half"))
      .toDF("doc_id", "source")
    val weights = Map("keep_all" -> 100, "half" -> 50)
    val out = Curation.mixtureStats(docs, col("doc_id"), col("source"), weights)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out("keep_all") == ((2000L, 2000L, 1.0)))
    // hash coin: expect ~50% within a few points on 2000 draws
    val (n, kept, rate) = out("half")
    assert(n == 2000L && math.abs(rate - 0.5) < 0.05, s"rate=$rate kept=$kept")
    // decision column agrees with the audit
    val kept2 = docs.filter(Curation.mixtureKeep(col("doc_id"), col("source"), weights))
      .filter(col("source") === "half").count()
    assert(kept2 == kept)
  }

  test("chunkDocs overlaps by window-stride and never loses a word") {
    // 10 words, window 4, stride 3 -> starts 0,3,6 (ceil((10-4)/3)=2 extra)
    val docs = Seq((1L, (1 to 10).map(i => s"w$i").mkString(" ")),
                   (2L, "a b")).toDF("doc_id", "text")
    val out = Curation.chunkDocs(docs, col("doc_id"), col("text"), 4, 3)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> ((r.getLong(2), r.getString(3)))).toMap
    assert(out((1L, 0)) == ((4L, "w1 w2 w3 w4")))
    assert(out((1L, 1)) == ((4L, "w4 w5 w6 w7")))
    assert(out((1L, 2)) == ((4L, "w7 w8 w9 w10"))) // every word covered
    // short doc: one (short) chunk, never zero chunks
    assert(out((2L, 0)) == ((2L, "a b")))
    assert(!out.contains((2L, 1)))
  }

  test("curation funnel stages are monotone and agree with the operators") {
    // passes every Gopher rule: "the" sits at exactly 0.2 top-token share
    val doc = (1 to 20).map(i => s"the w$i x$i y$i z$i").mkString(" ")
    val docs = Seq(
      (1L, doc, "en"), (2L, doc, "en"),       // exact dup pair: keep doc 1
      (3L, "too short", "en"),                 // quality-dropped
      (4L, doc + " tail variant", "drop_all")  // unique, but weight 0
    ).toDF("doc_id", "text", "lang")
    val out = Curation.curationFunnel(docs, col("doc_id"), col("text"), col("lang"),
        Map("en" -> 100, "drop_all" -> 0))
      .collect().map(r => r.getString(1) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(out("ingested")._1 == 4L)
    assert(out("quality_filter")._1 == 3L)   // doc 3 dropped
    assert(out("exact_dedup")._1 == 2L)      // doc 2 deduped against doc 1
    assert(out("mixture")._1 == 1L)          // doc 4's source weighted to 0
    // tokens shrink monotonically with docs
    val toks = Seq("ingested", "quality_filter", "exact_dedup", "mixture").map(out(_)._2)
    assert(toks == toks.sorted.reverse)
    // the survivor corpus is exactly the funnel's final stage
    val surv = Curation.curationSurvivors(docs, col("doc_id"), col("text"), col("lang"),
      Map("en" -> 100, "drop_all" -> 0))
    assert(surv.count() == out("mixture")._1)
    assert(surv.select("doc_id").as[Long].collect().toSeq == Seq(1L))
    assert(surv.agg(sum("n_tok")).head.getLong(0) == out("mixture")._2)
  }

  test("fuzzyCurationExport resolves a caller qscore against any input column") {
    val good = "the quick brown fox jumps over a lazy dog in warm sunshine"
    val docs = Seq(
      (1L, good + " one", "en"),
      (2L, "short text", "en"),          // near-dup of 1/3 but fails quality
      (3L, good + " two three", "en"),   // the component's longest kept member
      (4L, good + " solo", "en")         // singleton
    ).toDF("doc_id", "body", "lang").withColumn("n_chars", length(col("body")))
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    def kept(text: org.apache.spark.sql.Column, qscore: org.apache.spark.sql.Column) =
      Curation.fuzzyCurationExport(docs, col("doc_id"), text, col("lang"), pairs,
          qscore, Map("en" -> 100))
        .select("doc_id").as[Long].collect().sorted.toSeq
    // keep-longest: qscore is a column the flow itself never reads
    assert(kept(col("body"), col("n_chars")) === Seq(3L, 4L))
    // qscore bound to the text column by the caller's own name
    assert(kept(col("body"), length(col("body"))) === Seq(3L, 4L))
  }

  test("funnel first-keeper join keys on the text digest, not the document") {
    // boilerplate-heavy corpus: ONE quality-passing text duplicated across
    // many doc ids — the skew shape the digest keying exists for
    val doc = (1 to 20).map(i => s"the w$i x$i y$i z$i").mkString(" ")
    val docs = (1L to 500L).map(i => (i, doc, "en")).toDF("doc_id", "text", "lang")
    val funnel = Curation.curationFunnel(docs, col("doc_id"), col("text"), col("lang"),
      Map("en" -> 100))
    val out = funnel.collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(out("ingested") == 500L && out("quality_filter") == 500L)
    assert(out("exact_dedup") == 1L && out("mixture") == 1L)
    val surv = Curation.curationSurvivors(docs, col("doc_id"), col("text"), col("lang"),
      Map("en" -> 100))
    assert(surv.select("doc_id").as[Long].collect().toSeq == Seq(1L))
    // the first-keeper shuffle must hash the fixed-width digest, never the
    // raw document text (full-text sort keys are the 100-TB skew cliff)
    val plan = funnel.queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(__digest"), plan)
    assert(!plan.contains("hashpartitioning(text"), plan)
  }

  test("dupSpanStats counts verbatim cross-doc spans, null for short docs") {
    val shared = (1 to 8).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (1L, s"$shared a b c d e f g h"),    // 16 words: spans at 0 and 8 (partial)
      (2L, s"$shared p q r s t u v w"),    // shares NO full 8-token window with doc 1?
      (3L, "tiny doc")
    ).toDF("doc_id", "text")
    // window=8, stride=8: doc1 spans: [s1..s8], [a..h]; doc2: [s1..s8], [p..w]
    val out = Curation.dupSpanStats(docs, col("doc_id"), col("text"), 8, 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
    assert(out(1L) == ((2L, 1L, Some(0.5)))) // the shared prefix span
    assert(out(2L) == ((2L, 1L, Some(0.5))))
    assert(out(3L) == ((0L, 0L, None)))      // too short for a full window
  }

  test("tfidf top terms rank corpus-rare tokens above ubiquitous ones") {
    import graft.text.Vocab
    val docs = Seq(
      (1L, "common common rare1 rare1 rare1"),
      (2L, "common rare2"),
      (3L, "common filler")
    ).toDF("doc_id", "text")
    val out = Vocab.tfidfTopTerms(docs, col("doc_id"), col("text"), 2)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getString(1)).toMap
    // "common" appears in every doc -> idf = ln(1) = 0; rare tokens win
    assert(out((1L, 1)) == "rare1")
    assert(out((2L, 1)) == "rare2")
    assert(out((3L, 1)) == "filler")
    // zero-idf token still ranks (below), by token asc among ties
    assert(out((1L, 2)) == "common")
  }

  test("vocab build ranks by frequency with token tiebreak; encode maps OOV to 0") {
    import graft.text.Vocab
    val docs = Seq(
      (1L, "b b b a a c"),
      (2L, "a b rare")
    ).toDF("doc_id", "text")
    // freqs: b=4, a=3, c=1, rare=1 -> vocabSize 3 keeps b,a,c (tie c<rare)
    val vocab = Vocab.build(docs, col("text"), 3)
    val v = vocab.collect().map(r => r.getString(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    assert(v == Map("b" -> ((4L, 1)), "a" -> ((3L, 2)), "c" -> ((1L, 3))))
    val enc = Vocab.encode(docs, col("doc_id"), col("text"), vocab)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2)).toMap
    assert(enc((1L, 0)) == 1 && enc((1L, 3)) == 2 && enc((1L, 5)) == 3)
    assert(enc((2L, 2)) == 0, "OOV token must encode to the reserved id 0")
  }

  test("training-shard export is deterministic and shard-complete") {
    import graft.sources.Sources
    val docs = Seq.tabulate(200)(i => (i.toLong, s"doc body $i"))
      .toDF("doc_id", "text")
      .withColumn("shard", Curation.hashShard(col("doc_id"), 4))
    val dir = java.nio.file.Files.createTempDirectory("graft_shards").toString
    Sources.writeTrainingShards(docs, s"$dir/out", "shard", Seq("doc_id"))
    val back = spark.read.parquet(s"$dir/out")
    // lossless, and the directory layout carries the shard value
    assert(back.count() == 200)
    assert(back.select("shard").distinct().count() == 4)
    // per-shard membership matches the hash assignment exactly
    val expected = docs.select("doc_id", "shard").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the partition column comes back int-inferred from the dir names
    back.select("doc_id", "shard").collect()
      .foreach(r => assert(expected(r.getLong(0)) == r.getAs[Number](1).longValue))
    // the manifest records per-shard counts; its underscore name keeps it
    // invisible to Spark's file index (it can never pollute a data read)
    import scala.jdk.CollectionConverters._
    val mre = """\{"shard":"(\d+)","n_rows":(\d+),"content_hash":(-?\d+)\}""".r
    val manifest = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(s"$dir/out/_manifest.jsonl")).asScala.map {
      case mre(s, n, _) => s -> n.toLong
      case other => fail(s"malformed manifest line: $other")
    }.toMap
    val actual = docs.groupBy("shard").count()
      .collect().map(r => r.getLong(0).toString -> r.getLong(1)).toMap
    assert(manifest == actual)
    // a second export produces identical per-shard files (deterministic
    // order): compare row sequences file by file
    Sources.writeTrainingShards(docs, s"$dir/out2", "shard", Seq("doc_id"))
    (0 until 4).foreach { sh =>
      val a = spark.read.parquet(s"$dir/out/shard=$sh").select("doc_id").collect().map(_.getLong(0)).toSeq
      val b = spark.read.parquet(s"$dir/out2/shard=$sh").select("doc_id").collect().map(_.getLong(0)).toSeq
      assert(a == b && a == a.sorted, s"shard $sh order must be the sorted doc_id sequence")
    }
  }

  test("observed funnel metrics ride the export action and match the funnel query") {
    val docs = GraftSession.table(spark, "/root/testdata/sf0.01", "documents")
    // identical slice column + weights as the curation_funnel query binding,
    // so the observed counts must agree stage for stage
    val weights = Map("en" -> 100, "fr" -> 50, "es" -> 25, "de" -> 10, "zh" -> 75)
    val (survivors, obs) = graft.curation.Curation.curationSurvivorsObserved(
      docs, col("doc_id"), col("text"), col("lang"), weights)
    // ONE action (the caller's export stands in as a write) drives both the
    // output and the accounting — no second corpus scan
    val out = java.nio.file.Files.createTempDirectory("graft_obs").toString + "/surv"
    survivors.write.mode("overwrite").parquet(out)
    val m = obs.get
    val funnel = SparkEntry.queries("curation_funnel")(spark, "/root/testdata/sf0.01")
      .collect().map(r => r.getString(1) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert((m("ingested_docs"), m("ingested_tokens")) == funnel("ingested"))
    assert((m("quality_docs"), m("quality_tokens")) == funnel("quality_filter"))
    assert((m("dedup_docs"), m("dedup_tokens")) == funnel("exact_dedup"))
    assert((m("mixture_docs"), m("mixture_tokens")) == funnel("mixture"))
    // and the written corpus is exactly the final stage
    assert(spark.read.parquet(out).count() == m("mixture_docs").asInstanceOf[Long])
  }

  test("surgical decontamination excises benchmark lines, keeps the rest in order") {
    val corpus = Seq(
      (1L, Seq("keep one", "LEAKED QUESTION", "keep two")),
      (2L, Seq("all clean", "still clean")),
      (3L, Seq("LEAKED QUESTION", "ANOTHER LEAK"))   // fully contaminated
    ).toDF("doc_id", "ls")
    val bench = Seq((100L, Seq("LEAKED QUESTION", "ANOTHER LEAK"))).toDF("bid", "bls")
    val got = graft.curation.Curation.decontaminateSurgical(
        corpus, col("doc_id"), col("ls"), bench, col("bls"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) == ((3L, 1L, "keep one\nkeep two")))
    assert(got(2L) == ((2L, 0L, "all clean\nstill clean")))
    // a mostly-benchmark doc survives as empty text + full removal count,
    // so the caller can apply its own drop threshold on n_removed/n_lines
    assert(got(3L) == ((2L, 2L, "")))
  }

  test("semDedup keeps the smallest id of a similar group and respects clusters") {
    // centroids far apart on axes; dup pair (10,11) identical in cluster 0;
    // vec 12 similar to nothing; 13/14 identical but in different clusters
    def v(xs: Double*) = xs.toArray
    val vecs = Seq(
      (0L, v(10, 0, 0)), (1L, v(0, 10, 0)),          // centroids
      (10L, v(9, 1, 0)), (11L, v(9, 1, 0)),          // dups in cluster 0
      (12L, v(8, -6, 0)),                            // cluster 0, dissimilar
      (13L, v(5, 4.9, 0)), (14L, v(4.9, 5, 0))       // near-identical, straddle clusters
    ).toDF("id", "vec")
    val out = graft.similarity.Knn.semDedup(
        vecs.filter(col("id") >= 10), vecs.filter(col("id") < 2), 0.95)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(out(10L) == ((0L, true)))   // smallest id of the dup pair survives
    assert(out(11L) == ((0L, false)))  // dropped: 10 is its smaller twin
    assert(out(12L)._2)                // nothing similar
    // 13 and 14 are ~identical but live in different clusters: both kept
    assert(out(13L) == ((1L, true)) || out(13L) == ((0L, true)))
    assert(out(14L)._2 && out(13L)._1 != out(14L)._1)
  }

  test("semDedupAuto scales k with the corpus: per-cluster pair cost stays flat at 10x") {
    // deterministic pseudo-random 4-dim vectors from id arithmetic
    def corpus(n: Int) = spark.range(n).select(col("id"),
      array(
        ((col("id") * 2654435761L) % 1000).cast("double") / 1000.0,
        ((col("id") * 40503 + 17) % 1000).cast("double") / 1000.0,
        ((col("id") * 69621 + 5) % 1000).cast("double") / 1000.0,
        ((col("id") * 1103515245L + 12345) % 1000).cast("double") / 1000.0
      ).as("vec"))
    // per-cluster pair work = Σ c·(c−1)/2 over the assignment frame
    def pairStats(n: Int): (Long, Double) = {
      val sizes = graft.similarity.Knn
        .semDedupAuto(corpus(n), minCos = 0.9999, targetClusterSize = 50, iters = 1)
        .groupBy(col("cluster")).agg(count(lit(1)).as("c"))
        .select(col("c")).as[Long].collect()
      val pairs = sizes.map(c => c * (c - 1) / 2).sum
      (pairs, pairs.toDouble / sizes.length)
    }
    val (pairs1, perCluster1) = pairStats(400)
    val (pairs10, perCluster10) = pairStats(4000)
    // k grows with n, so TOTAL pair work stays ~linear (quadratic would be
    // 100x) and MEAN per-cluster work ~flat (modulo Lloyd skew)
    assert(pairs10 <= 40L * pairs1, s"total pair work superlinear: $pairs1 -> $pairs10")
    assert(perCluster10 <= 5.0 * perCluster1,
      s"per-cluster pair cost grew with the corpus: $perCluster1 -> $perCluster10")
  }

  test("trainingPipeline stage counts equal the individual operators composed in order") {
    val docs = GraftSession.table(spark, "/root/testdata/sf0.001", "documents")
    val corpus = docs.filter(col("doc_id") % 50 =!= 0)
    val bench = docs.filter(col("doc_id") % 50 === 0)
    val w = Map("en" -> 100, "fr" -> 50, "es" -> 25, "de" -> 10, "zh" -> 75)
    val funnel = Curation.trainingPipeline(corpus, bench,
      col("doc_id"), col("text"), col("lang"), col("lang"), w)
      .collect().map(r => r.getInt(0) -> ((r.getLong(2), r.getLong(3)))).toMap

    // recompose the flow from the INDIVIDUAL operators, stage by stage
    val s1 = corpus.filter(
      graft.text.TextFeatures.langIdColumns(col("text")).last === col("lang"))
    val s2 = s1.filter(graft.text.TextFeatures.filterDecision(col("text")) === "kept")
    // first keeper among s2 survivors (digest identity, min doc_id)
    val firsts = s2.groupBy(md5(col("text")).as("__dg"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val s3 = s2.join(firsts, Seq("doc_id"), "left_semi")
    val s4 = s3.join(
      Curation.decontaminate(s3, bench, col("doc_id"), col("text"), 3)
        .filter(!col("contaminated")).select(col("doc_id")),
      Seq("doc_id"), "left_semi")
    val s5 = s4.filter(Curation.mixtureKeep(col("doc_id"), col("lang"), w))
    def docTok(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        sum(graft.functions.TokenCount.tokenCount(col("text")))).head()
      (r.getLong(0), r.getLong(1))
    }
    assert(funnel(0) == docTok(corpus))
    assert(funnel(1) == docTok(s1), "langid stage diverged")
    assert(funnel(2) == docTok(s2), "quality stage diverged")
    assert(funnel(3) == docTok(s3), "dedup stage diverged")
    assert(funnel(4) == docTok(s4), "decontaminate stage diverged")
    assert(funnel(5) == docTok(s5), "mixture stage diverged")
    // and the export is exactly the terminal stage
    val exported = Curation.trainingSurvivors(corpus, bench,
      col("doc_id"), col("text"), col("lang"), col("lang"), w)
    assert(exported.count() == funnel(5)._1)
  }

  test("trainingIngest with an empty archive equals trainingPipeline; a seen digest kills its doc") {
    val docs = GraftSession.table(spark, "/root/testdata/sf0.001", "documents")
    val corpus = docs.filter(col("doc_id") % 50 =!= 0)
    val bench = docs.filter(col("doc_id") % 50 === 0)
    val w = Map("en" -> 100, "fr" -> 50, "es" -> 25, "de" -> 10, "zh" -> 75)
    val emptyArchive = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      new org.apache.spark.sql.types.StructType()
        .add("digest", org.apache.spark.sql.types.StringType))
    val inc = Curation.trainingIngest(corpus, emptyArchive, bench,
      col("doc_id"), col("text"), col("lang"), col("lang"), w)
    val batch = Curation.trainingPipeline(corpus, bench,
      col("doc_id"), col("text"), col("lang"), col("lang"), w)
    assert(inc.exceptAll(batch).isEmpty && batch.exceptAll(inc).isEmpty,
      "empty archive must reduce the incremental flow to the batch flow")
    // an archive containing EVERY corpus digest kills every doc at dedup:
    // stages 0-2 unchanged, stages 3-5 empty (absent from the funnel)
    val full = Curation.trainingIngest(corpus,
      corpus.select(md5(col("text")).as("digest")), bench,
      col("doc_id"), col("text"), col("lang"), col("lang"), w)
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    val base = batch.collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(full(0) == base(0) && full(1) == base(1) && full(2) == base(2))
    assert(!full.contains(3) && !full.contains(4) && !full.contains(5),
      s"fully-seen archive must empty the dedup tail: $full")
  }
}
