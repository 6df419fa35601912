package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.operators.{Dedup, Similarity}

class DedupSimilaritySpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("d1: groups are total and keepers are the min doc_id") {
    val r = Dedup.d1DedupExact(spark, sf).cache()
    val docs = Tables.load(spark, sf, "documents").count()
    assert(r.count() == docs) // total: one row per doc
    assert(r.filter("is_keeper = 1 AND doc_id != keep_doc_id").count() == 0)
    // keepers per group = number of distinct hashes
    assert(r.filter("is_keeper = 1").count() ==
      r.select("norm_hash").distinct().count())
    r.unpersist()
  }

  test("d2: near-dup pairs are symmetric-free and above threshold") {
    val pairs = Dedup.d2DedupNgram(spark, sf).collect()
    pairs.foreach { p =>
      assert(p.getAs[Long]("doc_id_1") < p.getAs[Long]("doc_id_2"))
      assert(p.getAs[Long]("jaccard_e6") >= (Dedup.JaccardTau * 1e6).toLong)
    }
  }

  test("d2: hot-shingle triangle split is exact (tiny blocks == default)") {
    import spark.implicits._
    // planted skew: 120 identical docs -> one shingle whose prefix posting
    // list holds all 120 docs; with blockSize 16 that is an 8-block
    // triangle (36 join cells) which must reproduce the plain result
    val dir = java.nio.file.Files.createTempDirectory("graft_hot").toString
    val docs = (0L until 120L).map(i => (i, "hot shingle words exactly")) ++
      Seq((1000L, "a completely different document body here"),
          (1001L, "a completely different document body here"))
    docs.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val tiny = Dedup.d2DedupNgram(spark, dir, prefixBlockSize = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    val plain = Dedup.d2DedupNgram(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    assert(tiny == plain, "block size must not change results")
    // 120 identical docs: all C(120,2) pairs at jaccard 1, plus the planted
    // distinct near-dup pair
    assert(tiny.count(_._3 == 1000000L) == 120 * 119 / 2 + 1)
  }

  test("d27: df-weighted resemblance rejects the boilerplate pair plain " +
    "Jaccard over-scores, keeps true dups, and every emitted number " +
    "replays from the doc texts in Scala") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_d27").toString
    // 20 docs sharing a 20-token template, each with a 2-token unique
    // tail: any two share 18 of 22 shingles -> plain jaccard 0.818 >= τ
    // (a dup verdict), but the shared shingles are ALL template (df=20,
    // weight 50000 each) while the 4 unshared boundary shingles are
    // unique (weight 1e6) -> weighted jaccard ~0.18, correctly rejected.
    val tpl = (0 until 20).map(i => s"tpl$i").mkString(" ")
    val tplDocs = (0L until 20L).map(i => (i, s"$tpl u${i}a u${i}b"))
    // a true duplicate pair with RARE content: both verdicts must agree
    val rare = (0 until 20).map(i => s"rare$i").mkString(" ")
    val dupDocs = Seq((100L, rare), (101L, rare))
    // a template-wrapped true dup: same 48 rare tokens behind two
    // DIFFERENT templates (the second template carried by 10 more docs)
    val alt = (0 until 20).map(i => s"alt$i").mkString(" ")
    val altDocs = (50L until 60L).map(i => (i, s"$alt v${i}a v${i}b"))
    val r48 = (0 until 48).map(i => s"r$i").mkString(" ")
    val wrapped = Seq((200L, s"$tpl $r48"), (201L, s"$alt $r48"))
    (tplDocs ++ dupDocs ++ altDocs ++ wrapped)
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val got = Dedup.d27WeightedJaccard(spark, dir).collect()
    // ---- Scala replay: shingle sets + df weights straight off the texts
    val texts = (tplDocs ++ dupDocs ++ altDocs ++ wrapped).toMap
    def shingles(t: String): Set[String] =
      t.split("\\s+").toSeq.sliding(3).filter(_.size == 3)
        .map(_.mkString(" ")).toSet
    val sets = texts.map { case (id, t) => id -> shingles(t) }
    val df = sets.values.toSeq.flatten.groupBy(identity).map {
      case (s, xs) => s -> xs.size }
    def w(s: String): Long = 1000000L / df(s)
    got.foreach { r =>
      val (a, b) = (r.getAs[Long]("doc_id_1"), r.getAs[Long]("doc_id_2"))
      val (sa, sb) = (sets(a), sets(b))
      val inter = sa.intersect(sb)
      val union = sa.union(sb)
      val interW = inter.toSeq.map(w).sum
      val unionW = union.toSeq.map(w).sum
      assert(r.getAs[Long]("n_common") == inter.size.toLong, s"($a,$b) n_common")
      assert(r.getAs[Long]("inter_w") == interW, s"($a,$b) inter_w")
      assert(r.getAs[Long]("union_w") == unionW, s"($a,$b) union_w")
      assert(r.getAs[Long]("jaccard_e6") ==
        math.floor(inter.size * 1000000.0 / union.size).toLong, s"($a,$b) jaccard")
      assert(r.getAs[Long]("wjaccard_e6") ==
        math.floor(interW * 1000000.0 / unionW).toLong, s"($a,$b) wjaccard")
      val plain = inter.size * Dedup.TauDen >= union.size * Dedup.TauNum
      val wd = interW * Dedup.TauDen >= unionW * Dedup.TauNum
      val verdict = if (plain && wd) "both"
        else if (plain) "plain_only" else "weighted_only"
      assert(r.getAs[String]("verdict") == verdict, s"($a,$b) verdict")
    }
    // ---- the three arms, all non-vacuous on the plant
    val byVerdict = got.groupBy(_.getAs[String]("verdict"))
      .view.mapValues(_.map(r =>
        (r.getAs[Long]("doc_id_1"), r.getAs[Long]("doc_id_2"))).toSet).toMap
    // boilerplate over-score: template pairs pass plain τ yet carry
    // almost no weighted resemblance — d3 would collapse them, d27 won't
    val tplPairs = byVerdict.getOrElse("plain_only", Set.empty)
      .filter { case (a, b) => a < 20 && b < 20 }
    assert(tplPairs.nonEmpty,
      "no template pair rejected by weighting — the boilerplate arm is vacuous")
    // the identical rare pair agrees under both scores
    assert(byVerdict.getOrElse("both", Set.empty).contains((100L, 101L)),
      "true dup pair lost")
    // the template-wrapped dup is invisible to plain jaccard (0.53) but
    // caught by weighting — IF banding surfaced it (J=0.53 candidates
    // are below the LSH design point; presence is a bonus, absence fine)
    byVerdict.get("weighted_only").foreach { ps =>
      assert(ps.subsetOf(Set((200L, 201L))), s"unexpected weighted_only: $ps")
    }
    info(s"plain_only template pairs: ${tplPairs.size}, weighted_only: " +
      s"${byVerdict.getOrElse("weighted_only", Set.empty).size}")
  }

  test("s31: the beam sweep is a true frontier — recall monotone in beam " +
    "width, cost strictly increasing in rounds, and the (BeamWidth, " +
    "HnswBeamRounds) corner reproduces s26's production recall exactly") {
    val rows = Similarity.s31BeamSweep(spark, sf).collect()
      .map(r => ((r.getAs[Long]("beam_width"), r.getAs[Long]("n_rounds")),
        (r.getAs[Long]("n_hit"), r.getAs[Long]("recall_e6"),
          r.getAs[Long]("scored_candidates"), r.getAs[Long]("n_exact")))).toMap
    assert(rows.size == Similarity.S31Widths.size * Similarity.S31Rounds)
    // recall@k monotone (non-strict) in beam width at every round count —
    // the property that makes the width dial a dial
    for (r <- 1 to Similarity.S31Rounds;
         Seq(w1, w2) <- Similarity.S31Widths.map(_.toLong).sliding(2)) {
      assert(rows((w1, r.toLong))._2 <= rows((w2, r.toLong))._2,
        s"recall dropped widening $w1 -> $w2 at rounds=$r")
    }
    // recall monotone in rounds at fixed width; cost strictly increasing
    // (every extra round scores at least the base beam again)
    for (w <- Similarity.S31Widths.map(_.toLong); r <- 1 until Similarity.S31Rounds) {
      assert(rows((w, r.toLong))._2 <= rows((w, r.toLong + 1))._2,
        s"recall dropped adding a round at width=$w")
      assert(rows((w, r.toLong))._3 < rows((w, r.toLong + 1))._3,
        s"cost not increasing at width=$w round $r")
    }
    // the production corner IS s26: its n_hit must equal the sum of
    // s27's per-probe hits (same descent, same truth)
    val s27Hits = Similarity.s27HnswRecall(spark, sf).collect()
      .map(_.getAs[Long]("n_hit")).sum
    val corner = rows((Similarity.BeamWidth.toLong, Similarity.HnswBeamRounds.toLong))
    assert(corner._1 == s27Hits,
      s"sweep corner ${corner._1} != s26/s27 production recall $s27Hits")
    info(s"frontier at sf0.001: recall ${rows.toSeq.sortBy(_._1).map(_._2._2).mkString(",")}")
  }

  test("d3: minhash+LSH finds the same high-jaccard pairs as d2") {
    val exact = Dedup.d2DedupNgram(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.d3DedupMinhash(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // LSH candidates then exact-confirm: subset of exact, high recall
    assert(lsh.subsetOf(exact))
    if (exact.nonEmpty)
      assert(lsh.size.toDouble / exact.size >= 0.8, s"recall ${lsh.size}/${exact.size}")
  }

  test("d10: planted typo variant is caught with the hand-computed edit " +
    "distance; an unrelated doc never pairs; verdict arithmetic is exact") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_fuzzy").toString
    // long shared body, ONE substituted character: nearly every shingle
    // survives, so the minhash bands must surface the pair
    val base = ("alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa quebec romeo sierra " +
      "tango uniform victor whiskey xray yankee zulu one two three four")
    val typo = base.replace("november", "novembur")
    Seq((1L, base), (2L, typo),
      (3L, "completely unrelated text about spark physical plans and shuffles"))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val got = Dedup.d10DedupFuzzy(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id_1"), r.getAs[Long]("doc_id_2")) ->
        ((r.getAs[Long]("edit_dist"), r.getAs[Long]("max_len"),
          r.getAs[Long]("edit_sim_e6")))).toMap
    assert(got.keySet == Set((1L, 2L)), s"only the typo pair, got ${got.keySet}")
    // one substituted character -> Levenshtein 1
    val (dist, mlen, sim) = got((1L, 2L))
    assert(dist == 1L && mlen == base.length.toLong)
    assert(sim == (mlen - dist) * 1000000L / mlen)
    // the corpus run agrees with a direct recount over its own pairs
    val corpus = Dedup.d10DedupFuzzy(spark, sf).collect()
    val texts = Tables.load(spark, sf, "documents").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("text").toLowerCase.trim.replaceAll("\\s+", " ")).toMap
    corpus.foreach { r =>
      val (a, b) = (texts(r.getAs[Long]("doc_id_1")), texts(r.getAs[Long]("doc_id_2")))
      assert(r.getAs[Long]("max_len") == math.max(a.length, b.length))
      assert(r.getAs[Long]("edit_dist") * Dedup.EditDen <= r.getAs[Long]("max_len"))
    }
  }

  test("d10: banded Levenshtein == built-in full-DP on planted edges and " +
    "on every corpus candidate pair") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions.editDistWithin
    val den = Dedup.EditDen
    // edge cases: equal, empty/empty, empty/short, length-gap prune,
    // exactly-at-threshold, just-over-threshold, unicode, transposition
    val pairs = Seq(
      ("", ""), ("", "ab"), ("abc", "abc"),
      ("aaaaaaaaaa", "aaaaaaaaab"),            // dist 1, max 10, tau 2: pass
      ("aaaaaaaaaa", "aaaaaaaabb"),            // dist 2 == tau: boundary pass
      ("aaaaaaaaaa", "aaaaaaabbb"),            // dist 3 > tau 2: refute
      ("abcdefghij", "abcdefghijklmno"),       // gap 5 > tau 3: length prune
      ("café au lait", "cafe au lait"),        // unicode codepoint unit
      ("abcdefghij", "bacdefghij"),            // transposition = 2 subs
      ("kitten", "sitting"), ("flaw", "lawn"),
      ("x" * 400 + "y" * 10, "x" * 400 + "z" * 10))
    val df = pairs.toDF("a", "b")
      .withColumn("banded", editDistWithin(col("a"), col("b"), den))
      .withColumn("full", levenshtein(col("a"), col("b")).cast("long"))
      .withColumn("max_len", greatest(length(col("a")), length(col("b"))).cast("long"))
    df.collect().foreach { r =>
      val (banded, full, maxLen) =
        (r.getAs[Long]("banded"), r.getAs[Long]("full"), r.getAs[Long]("max_len"))
      val within = full * den <= maxLen
      if (within) assert(banded == full,
        s"banded must equal full-DP when within: $r")
      else assert(banded == -1L, s"banded must refute when over: $r")
    }
    // corpus: the banded verdict reproduces the full-DP verdict on every
    // MinHash candidate pair (the exact rows d10 confirms)
    val norm = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), graft.functions.TextFunctions.normText(col("text")).as("nt"))
    val cand = Dedup.d10DedupFuzzy(spark, sf)
      .select(col("doc_id_1"), col("doc_id_2"), col("edit_dist"))
    val recheck = cand
      .join(norm.select(col("doc_id").as("doc_id_1"), col("nt").as("nt1")), Seq("doc_id_1"))
      .join(norm.select(col("doc_id").as("doc_id_2"), col("nt").as("nt2")), Seq("doc_id_2"))
      .withColumn("full", levenshtein(col("nt1"), col("nt2")).cast("long"))
    assert(recheck.filter(col("edit_dist") =!= col("full")).count() == 0,
      "surviving distances must be the exact edit distance")
  }

  test("s9: the candidate stage is pluggable — explicit brute candidates " +
    "reproduce the default bit-for-bit, and s7's binary-sketch shortlist " +
    "feeds the same MMR unroll") {
    import org.apache.spark.sql.functions._
    def key(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    // explicitly passing the default candidate source must be the identity
    val dflt = key(Similarity.s9MmrRerank(spark, sf))
    val explicit = key(Similarity.s9MmrRerank(spark, sf,
      Similarity.s9BruteCandidates(spark, sf)))
    assert(dflt == explicit, "explicit brute candidates must match the default")
    // s7's compressed-sketch shortlist as the candidate source: its exact
    // re-rank cosine IS the relevance; picks must be a per-probe MMR
    // selection over exactly that shortlist
    val s7cand = Similarity.s7AnnBinary(spark, sf)
      .select(col("probe_id"), col("neighbor_id"), col("cos_e6").as("rel_e6"))
    val fromS7 = Similarity.s9MmrRerank(spark, sf, s7cand).collect()
    val candSet = s7cand.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val byProbe = fromS7.groupBy(_.getAs[Long]("probe_id"))
    assert(byProbe.keySet == candSet.map(_._1),
      "every s7 probe must be reranked")
    byProbe.foreach { case (p, rows) =>
      assert(rows.map(_.getAs[Long]("pick_rank")).toSet ==
        (1L to Similarity.MmrK).toSet, s"ranks of probe $p")
      rows.foreach { r =>
        assert(candSet((p, r.getAs[Long]("neighbor_id"))),
          s"pick outside the s7 shortlist for probe $p")
      }
      // first pick is pure relevance — no diversity term yet
      val rel1 = rows.filter(_.getAs[Long]("pick_rank") == 1L).head
      assert(rel1.getAs[Long]("max_sim_e6") == 0L, "first pick has no diversity term")
    }
  }

  test("s9: MMR picks are a diverse subset of the candidate set — " +
    "Scala greedy recompute matches the dataframe unroll exactly") {
    import org.apache.spark.sql.functions._
    val got = Similarity.s9MmrRerank(spark, sf).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("pick_rank")) ->
        ((r.getAs[Long]("neighbor_id"), r.getAs[Long]("rel_e6"),
          r.getAs[Long]("max_sim_e6"), r.getAs[Long]("mmr10_e6")))).toMap
    // per probe: exactly MmrK picks, ranks contiguous, neighbors distinct
    val byProbe = got.keys.groupBy(_._1)
    byProbe.foreach { case (p, ks) =>
      assert(ks.map(_._2).toSet == (1L to Similarity.MmrK).toSet, s"ranks of $p")
      val ids = ks.toSeq.map(got(_)._1)
      assert(ids.distinct.size == ids.size, s"repeated pick in probe $p")
    }
    // independent greedy recompute from raw vectors (plain Scala)
    val vecs = Tables.load(spark, sf, "embeddings").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray).toMap
    def cosE6(a: Array[Float], b: Array[Float]): Long = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
      math.floor(dot / (math.sqrt(na) * math.sqrt(nb)) * 1e6).toLong
    }
    byProbe.keys.foreach { p =>
      val pe = vecs(p)
      // candidate stage: top-N by raw cosine — recompute ranks on e6
      // floors is NOT identical to raw-double ranking in theory, so rank
      // with the same double ordering
      def cosRaw(a: Array[Float], b: Array[Float]): Double = {
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) { dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
        dot / (math.sqrt(na) * math.sqrt(nb))
      }
      val cand = vecs.toSeq.filter(_._1 != p)
        .map { case (id, v) => (id, cosRaw(pe, v)) }
        .sortBy { case (id, c) => (-c, id) }.take(Similarity.MmrCandN)
        .map { case (id, _) => id -> cosE6(pe, vecs(id)) }
      var selected = List.empty[Long]
      (1 to Similarity.MmrK).foreach { k =>
        val scored = cand.filterNot { case (id, _) => selected.contains(id) }
          .map { case (id, rel) =>
            val ms = if (selected.isEmpty) 0L
              else selected.map(s => cosE6(vecs(id), vecs(s))).max
            (id, rel, ms, rel * Similarity.MmrLambdaNum - ms * Similarity.MmrDivNum)
          }
        val best = scored.minBy { case (id, _, _, m) => (-m, id) }
        assert(got((p, k.toLong)) == ((best._1, best._2, best._3, best._4)),
          s"probe $p pick $k: got ${got((p, k.toLong))}, want $best")
        selected ::= best._1
      }
    }
  }

  test("d4: simhash chunks are 16-bit and near counts consistent") {
    val r = Dedup.d4DedupSimhash(spark, sf).cache()
    assert(r.filter("c0 < 0 OR c0 > 65535 OR c1 < 0 OR c1 > 65535 OR " +
      "c2 < 0 OR c2 > 65535 OR c3 < 0 OR c3 > 65535").count() == 0)
    // near-dup relation is symmetric: total partner count is even
    val total = r.selectExpr("sum(n_near3)").collect()(0).getLong(0)
    assert(total % 2 == 0)
    r.unpersist()
  }

  test("d4: fused simhash64 is bit-identical to the 64-sum-aggregate form") {
    def m(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      r.getAs[Long]("doc_id") -> (r.getAs[Long]("c0"), r.getAs[Long]("c1"),
        r.getAs[Long]("c2"), r.getAs[Long]("c3"))).toMap
    val fast = m(Dedup.simhashChunks(spark, sf))
    val slow = m(Dedup.simhashChunksSlow(spark, sf))
    assert(fast.keySet == slow.keySet)
    fast.foreach { case (id, c) => assert(c == slow(id), s"doc $id chunks differ") }
  }

  test("d6: clusters cover exactly the paired docs, one keeper per cluster") {
    val pairs = Dedup.d2DedupNgram(spark, sf).collect()
    val pairedDocs = pairs.flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    val clusters = Dedup.d6DedupClusters(spark, sf).collect()
    assert(clusters.map(_.getAs[Long]("doc_id")).toSet == pairedDocs)
    clusters.groupBy(_.getAs[Long]("cluster_id")).foreach { case (cid, rows) =>
      assert(rows.count(_.getAs[Long]("is_keeper") == 1L) == 1)
      assert(rows.map(_.getAs[Long]("doc_id")).min == cid) // keeper = min id
      assert(rows.forall(_.getAs[Long]("cluster_size") == rows.length))
    }
    // every pair's two docs are in the same cluster (transitive closure)
    val byDoc = clusters.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    pairs.foreach(p => assert(byDoc(p.getLong(0)) == byDoc(p.getLong(1))))
  }

  test("d7: embedding clusters cover exactly d5's paired vectors, one " +
    "keeper per cluster, pairs transitively closed") {
    val pairs = Dedup.d5DedupEmbed(spark, sf).collect()
    val pairedVecs = pairs.flatMap(r =>
      Seq(r.getAs[Long]("vec_id_1"), r.getAs[Long]("vec_id_2"))).toSet
    val clusters = Dedup.d7EmbedClusters(spark, sf).collect()
    assert(clusters.map(_.getAs[Long]("vec_id")).toSet == pairedVecs)
    clusters.groupBy(_.getAs[Long]("cluster_id")).foreach { case (cid, rows) =>
      assert(rows.count(_.getAs[Long]("is_keeper") == 1L) == 1)
      assert(rows.map(_.getAs[Long]("vec_id")).min == cid)
      assert(rows.forall(_.getAs[Long]("cluster_size") == rows.length))
    }
    val byVec = clusters.map(r =>
      r.getAs[Long]("vec_id") -> r.getAs[Long]("cluster_id")).toMap
    pairs.foreach(p => assert(
      byVec(p.getAs[Long]("vec_id_1")) == byVec(p.getAs[Long]("vec_id_2"))))
  }

  test("d5: cosine pairs above threshold, no self pairs") {
    val r = Dedup.d5DedupEmbed(spark, sf).collect()
    r.foreach { p =>
      assert(p.getAs[Long]("vec_id_1") < p.getAs[Long]("vec_id_2"))
      assert(p.getAs[Long]("cos_e6") >= (Dedup.CosineTau * 1e6).toLong)
    }
  }

  test("d5: banded pairs are a high-recall subset of the all-pairs form, " +
    "and the plan has no cartesian join") {
    val exact = Dedup.d5AllPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = Dedup.d5DedupEmbed(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded.subsetOf(exact))
    if (exact.nonEmpty)
      assert(banded.size.toDouble / exact.size >= 0.8,
        s"recall ${banded.size}/${exact.size}")
    val plan = Dedup.d5DedupEmbed(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "d5 must not be all-pairs")
  }

  test("d12: the semantic-dedup manifest is total, components never span " +
    "cells, keepers are group minima, and every same-cell d5 pair is " +
    "grouped together (within-cell exhaustive beats the banding)") {
    import org.apache.spark.sql.functions._
    val r = Dedup.d12SemanticDedup(spark, sf).cache()
    val n = Tables.load(spark, sf, "embeddings").count()
    assert(r.count() == n) // one manifest row per corpus vector
    // pairs form only inside a cell, so a component lives in exactly one
    assert(r.groupBy("dup_group").agg(countDistinct("cell").as("nc"))
      .filter("nc > 1").count() == 0)
    // exactly one keeper per group and it is the min vec_id = the label
    r.groupBy("dup_group")
      .agg(min("vec_id").as("mn"), sum("is_keeper").as("nk"),
        count(lit(1)).as("sz"), max("group_size").as("gs"), min("group_size").as("gs2"))
      .collect().foreach { row =>
        assert(row.getAs[Long]("mn") == row.getAs[Long]("dup_group"))
        assert(row.getAs[Long]("nk") == 1L)
        assert(row.getAs[Long]("gs") == row.getAs[Long]("sz") &&
          row.getAs[Long]("gs2") == row.getAs[Long]("sz"))
      }
    // the banded pipeline's same-cell pairs are a SUBSET of what the
    // exhaustive within-cell pass groups — d12 may only find more
    val asg1 = r.select(col("vec_id").as("vec_id_1"),
      col("cell").as("c1"), col("dup_group").as("g1"))
    val asg2 = r.select(col("vec_id").as("vec_id_2"),
      col("cell").as("c2"), col("dup_group").as("g2"))
    val d5SameCell = Dedup.d5DedupEmbed(spark, sf)
      .join(asg1, Seq("vec_id_1")).join(asg2, Seq("vec_id_2"))
      .filter("c1 = c2").cache()
    assert(d5SameCell.count() > 0, "vacuous: no same-cell d5 pair in the corpus")
    assert(d5SameCell.filter("g1 != g2").count() == 0)
    assert(r.filter("group_size > 1").count() > 0) // non-vacuous groups
    d5SameCell.unpersist(); r.unpersist()
  }

  test("s11: the delta update is exact — batch∪corpus assignment equals " +
    "the one-pass assignment under the same corpus-trained model, and " +
    "verdicts recompute from a brute within-cell pass") {
    import org.apache.spark.sql.functions._
    val e = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val cents = Similarity.s11CorpusModel(spark, sf)
    val isNew = Dedup.isNewBatch(col("vec_id"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cell", "cell_cos_e6").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    val onePass = rows(Similarity.assignCells(e, cents))
    val merged = rows(Similarity.assignCells(e.filter(!isNew), cents)
      .unionByName(Similarity.assignCells(e.filter(isNew), cents)))
    assert(onePass == merged) // the index-delta invariant, bit for bit
    val r = Similarity.s11IndexDelta(spark, sf).cache()
    val nNew = e.filter(isNew).count()
    assert(r.count() == nNew && nNew > 0) // exactly the batch, nothing else
    // nn verdicts close against an independent brute within-cell recompute
    val corpusAsg = Similarity.assignCells(e.filter(!isNew), cents)
      .select(col("cell"), col("embedding").as("ce"))
    val batchAsg = Similarity.assignCells(e.filter(isNew), cents)
      .select(col("vec_id"), col("cell"), col("embedding").as("be"))
    val best = batchAsg.join(corpusAsg, Seq("cell"))
      .withColumn("ce6", floor(graft.functions.VectorFunctions
        .cosineFast(col("be"), col("ce")) * lit(1000000.0)).cast("long"))
      .groupBy("vec_id").agg(max("ce6").as("best_e6"))
    assert(r.join(best, Seq("vec_id"), "left")
      .filter("nn_cos_e6 IS NOT NULL AND nn_cos_e6 != best_e6").count() == 0)
    // dup verdict is exactly the d5 threshold on the best neighbor
    val tau = (Dedup.CosineTau * 1e6).toLong
    assert(r.filter(s"is_dup = 1 AND (nn_cos_e6 IS NULL OR nn_cos_e6 < $tau)").count() == 0)
    assert(r.filter(s"is_dup = 0 AND nn_cos_e6 >= $tau").count() == 0)
    assert(r.filter("is_dup = 1").count() > 0, "vacuous: no dup in the batch")
    r.unpersist()
  }

  test("d6/d7 fed a pre-materialized pair table match the standalone runs") {
    def key(rows: Array[org.apache.spark.sql.Row], id: String) = rows.map(r =>
      (r.getAs[Long](id), r.getAs[Long]("cluster_id"),
        r.getAs[Long]("is_keeper"), r.getAs[Long]("cluster_size"))).toSet
    // a pipeline run that reports pairs AND consolidates clusters
    // materializes the pair table once and feeds it to both consumers
    val d5Pairs = Dedup.d5DedupEmbed(spark, sf).localCheckpoint(true)
    assert(key(Dedup.d7EmbedClusters(spark, sf, Some(d5Pairs)).collect(), "vec_id") ==
      key(Dedup.d7EmbedClusters(spark, sf).collect(), "vec_id"))
    val d2Pairs = Dedup.d2DedupNgram(spark, sf).localCheckpoint(true)
    assert(key(Dedup.d6DedupClusters(spark, sf, Some(d2Pairs)).collect(), "doc_id") ==
      key(Dedup.d6DedupClusters(spark, sf).collect(), "doc_id"))
  }

  test("d8: incremental verdicts recompute exactly from d2's full pair set") {
    // the reference computation d8 must agree with: take ALL near-dup
    // pairs (d2), keep those touching the batch, and derive each new
    // doc's counts/best-match/keep verdict by hand
    def isNew(id: Long): Boolean = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16) % 100 >= Dedup.NewBucketMin
    }
    val pairs = Dedup.d2DedupNgram(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("jaccard_e6")))
    val matches = pairs.flatMap { case (a, b, j) =>
      Seq((a, b, j), (b, a, j)) }.filter(t => isNew(t._1)).groupBy(_._1)
    val allNew = Tables.load(spark, sf, "documents").select("doc_id").collect()
      .map(_.getLong(0)).filter(isNew).sorted
    val got = Dedup.d8DedupIncremental(spark, sf).collect()
    assert(got.map(_.getLong(0)).toSeq == allNew.toSeq, "one row per new doc")
    got.foreach { r =>
      val doc = r.getLong(0)
      val ms = matches.getOrElse(doc, Array.empty).map(t => (t._2, t._3))
      assert(r.getAs[Long]("n_corpus_dups") == ms.count(m => !isNew(m._1)))
      assert(r.getAs[Long]("n_batch_dups") == ms.count(m => isNew(m._1)))
      val expectKept = ms.forall(m => isNew(m._1)) &&
        ms.forall(m => !(isNew(m._1) && m._1 < doc))
      assert(r.getAs[Long]("is_kept") == (if (expectKept) 1L else 0L), s"doc $doc verdict")
      if (ms.nonEmpty) {
        val best = ms.minBy(m => (-m._2, m._1))
        assert(r.getAs[Long]("best_match_id") == best._1 &&
          r.getAs[Long]("best_jaccard_e6") == best._2, s"doc $doc best match")
      } else assert(r.isNullAt(3) && r.isNullAt(4))
    }
    // every duplicate group fully inside the batch keeps exactly its min
    val newDupGroups = pairs.filter(t => isNew(t._1) && isNew(t._2))
    if (newDupGroups.nonEmpty) {
      val keptSet = got.filter(_.getAs[Long]("is_kept") == 1L).map(_.getLong(0)).toSet
      newDupGroups.foreach { case (a, b, _) =>
        assert(!(keptSet(a) && keptSet(b)), s"kept both members of dup pair ($a,$b)")
      }
    }
  }

  test("connected components: the one-task union-find and the distributed " +
    "pointer-jumping fixpoint produce identical labelings") {
    import spark.implicits._
    // adversarial shapes: a long chain (worst case for propagation), a
    // star, a triangle merging into the chain, and isolated pairs — plus
    // ids deliberately out of insertion-friendly order
    val chain = (0 until 30).map(i => (100L + i, 101L + i))
    val star = Seq((7L, 500L), (7L, 501L), (7L, 502L))
    val tri = Seq((115L, 900L), (900L, 901L), (901L, 115L))
    val loose = Seq((2000L, 2001L), (3001L, 3000L))
    val pairs = spark.sparkContext.parallelize(
      scala.util.Random.shuffle(chain ++ star ++ tri ++ loose), 4)
      .toDF("a", "b")
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("v") -> r.getAs[Long]("l")).toMap
    val local = m(Dedup.ccLocal(pairs))
    val dist = m(Dedup.ccDistributed(pairs.localCheckpoint(true), pairs.count(), "spec"))
    assert(local == dist, "strategies disagree")
    // spot semantics: the chain+triangle component labels to its min (100)
    assert(local(129L) == 100L && local(901L) == 100L)
    assert(local(502L) == 7L && local(3001L) == 3000L)
  }

  test("s3: recall@5 vs s1 is monotone in nprobe and the verified default " +
    "clears the floor — the IVF recall dial works") {
    val exact = Similarity.s1AnnBrute(spark, sf)
      .select("probe_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(p: Int): Double = {
      val got = Similarity.s3AnnIvf(spark, sf, p)
        .select("probe_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      got.count(exact).toDouble / exact.size
    }
    val r1 = recall(1)
    val r2 = recall(Similarity.NProbe)
    val r4 = recall(4)
    info(f"recall@5: nprobe=1 $r1%.3f, nprobe=${Similarity.NProbe} $r2%.3f, nprobe=4 $r4%.3f")
    // candidates grow as supersets with nprobe and both sides rank by the
    // same (cos desc, vec_id) order, so a displaced true positive is only
    // ever displaced by another true positive: recall is monotone
    assert(r4 >= r2 && r2 >= r1, f"recall not monotone: $r1%.3f / $r2%.3f / $r4%.3f")
    // measured on the deterministic sf0.001 corpus: 0.80 / 0.86 / 0.88
    // (16 cells, 10 probes, k=5) — floors sit just under those values so
    // a real recall regression trips while rounding jitter cannot
    assert(r2 >= 0.85, f"default-nprobe recall floor: $r2%.3f")
    assert(r1 >= 0.70, f"single-cell recall floor: $r1%.3f")
  }

  test("s14: IVF+PQ composition — arithmetic agrees with both parents, " +
    "the cell column is the probe's IVF cell, and recall clears the floor") {
    val got = Similarity.s14IvfPq(spark, sf).collect()
    // shape: per probe, ranks are 1..k contiguous and cos_e6 non-increasing
    got.groupBy(_.getLong(0)).foreach { case (p, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("rank"))
      assert(sorted.map(_.getAs[Long]("rank")).toSeq == (1L to rs.length).toSeq,
        s"probe $p ranks not contiguous")
      val cosSeq = sorted.map(_.getAs[Long]("cos_e6")).toSeq
      assert(cosSeq == cosSeq.sorted.reverse, s"probe $p cos not descending")
      assert(rs.map(_.getAs[Long]("cell")).distinct.length == 1,
        s"probe $p cell column must be the probe's one main cell")
    }
    // cross-parent arithmetic parity: a (probe, neighbor) pair surfaced by
    // BOTH s14 and s4 used the identical codebooks and the identical
    // e6-floored partial-dot sums, so adc_e6 must agree bit-for-bit;
    // same for cos_e6 (and s3 additionally pins the main cell)
    val s4 = Similarity.s4AnnPq(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getAs[Long]("adc_e6"), r.getAs[Long]("cos_e6"))).toMap
    val s4Shared = got.flatMap { r =>
      s4.get((r.getLong(0), r.getLong(1))).map { case (adc, cos) =>
        assert(r.getAs[Long]("adc_e6") == adc, s"adc mismatch at $r")
        assert(r.getAs[Long]("cos_e6") == cos, s"cos mismatch at $r")
        1
      }
    }.sum
    val s3 = Similarity.s3AnnIvf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getAs[Long]("cell"), r.getAs[Long]("cos_e6"))).toMap
    val s3Shared = got.flatMap { r =>
      s3.get((r.getLong(0), r.getLong(1))).map { case (cell, cos) =>
        assert(r.getAs[Long]("cell") == cell, s"cell mismatch at $r")
        assert(r.getAs[Long]("cos_e6") == cos, s"cos mismatch vs s3 at $r")
        1
      }
    }.sum
    info(s"pairs shared with s4: $s4Shared, with s3: $s3Shared of ${got.length}")
    assert(s4Shared > 0 && s3Shared > 0, "parity checks must be non-vacuous")
    // s14's candidates are s3's (cell-routed) pool pruned by the PQ
    // shortlist: anything it returns, s3 saw — so a pair in s14 but NOT
    // in s3's top-k would mean s14 ranked a candidate s3's exact-cosine
    // order rejected, impossible when both cut at the same k with the
    // same order unless the shortlist dropped a better candidate first.
    // That CAN happen (PQ approximation) — but the reverse containment
    // on the TOP-1 must hold on this corpus: measured, every probe's
    // rank-1 neighbor agrees with s3's rank-1 (the nearest true neighbor
    // survives a 50-deep ADC shortlist comfortably).
    val s3Top1 = Similarity.s3AnnIvf(spark, sf).collect()
      .filter(_.getAs[Long]("rank") == 1L).map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.filter(_.getAs[Long]("rank") == 1L).foreach { r =>
      assert(s3Top1(r.getLong(0)) == r.getLong(1),
        s"probe ${r.getLong(0)} top-1 diverged from the cell-routed exact rank")
    }
    // end-to-end recall floor vs brute force: the composed index stacks
    // two approximations (cell routing + ADC shortlist); measured 0.86
    // on this corpus (= s3's routing recall — the shortlist costs nothing
    // here), floor just under
    val exact = Similarity.s1AnnBrute(spark, sf)
      .select("probe_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mine = got.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = mine.count(exact).toDouble / exact.size
    info(f"s14 recall@5 vs s1: $recall%.3f")
    assert(recall >= 0.80, f"composed-index recall floor: $recall%.3f")
  }

  test("s15: hybrid retrieval reproduced end-to-end in Scala — inverted-" +
    "index BM25 surrogate, df cap, dense ranks and RRF all exact") {
    val docs = Tables.load(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val n = docs.length.toLong
    def toks(s: String) = {
      val t = s.replaceAll("^\\s+|\\s+$", "")
      if (t.isEmpty) Array.empty[String] else t.split("\\s+")
    }
    val tf = scala.collection.mutable.Map.empty[(Long, String), Long].withDefaultValue(0L)
    for ((id, text) <- docs; tk = toks(text); i <- 0 until tk.length - 1)
      tf((id, tk(i) + " " + tk(i + 1))) += 1L
    val df = tf.keys.toSeq.groupBy(_._2).map { case (bg, ks) => bg -> ks.size.toLong }
    val postByBg = tf.toSeq.collect {
      case ((d, bg), t) if df(bg) * Similarity.DfCapDen <= n => bg -> (d, t)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val lexScore = scala.collection.mutable.Map.empty[(Long, Long), Long].withDefaultValue(0L)
    for (((qd, bg), qtf) <- tf if qd < Similarity.NumProbes;
         (d, tfd) <- postByBg.getOrElse(bg, Seq.empty) if d != qd)
      lexScore((qd, d)) += qtf * (n / df(bg)) * (tfd * 1000000L / (tfd + 1))
    val lexRank = lexScore.toSeq.groupBy(_._1._1).flatMap { case (p, rows) =>
      rows.sortBy { case ((_, d), s) => (-s, d) }
        .take(Similarity.LexTopK).zipWithIndex
        .map { case (((_, d), _), i) => (p, d) -> (i + 1).toLong }
    }
    val vecRank = Similarity.s1AnnBrute(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("rank")).toMap
    def rrf(r: Option[Long]): Long =
      r.map(x => 1000000L / (Similarity.RrfK + x)).getOrElse(0L)
    val expected = (lexRank.keySet ++ vecRank.keySet)
      .groupBy(_._1).toSeq.flatMap { case (p, pairs) =>
        pairs.toSeq.map { case (_, d) =>
          val (lr, vr) = (lexRank.get((p, d)), vecRank.get((p, d)))
          (p, d, rrf(lr) + rrf(vr), lr, vr, lr.size.toLong + vr.size.toLong)
        }.sortBy { case (_, d, s, _, _, _) => (-s, d) }
          .take(Similarity.FusedK).zipWithIndex
          .map { case ((pp, d, s, lr, vr, ns), i) => (pp, (i + 1).toLong, d, s, lr, vr, ns) }
      }.sortBy(t => (t._1, t._2))
    val got = Similarity.s15HybridSearch(spark, sf).collect().map { r =>
      (r.getLong(0), r.getAs[Long]("fused_rank"), r.getLong(2),
        r.getAs[Long]("score_e6"),
        Option(r.get(4)).map(_.asInstanceOf[Long]),
        Option(r.get(5)).map(_.asInstanceOf[Long]),
        r.getAs[Long]("n_sources"))
    }.sortBy(t => (t._1, t._2)).toSeq
    assert(got == expected, s"hybrid output diverged\ngot      $got\nexpected $expected")
    // the fusion must be genuinely hybrid on this corpus: some fused rows
    // exist with only a lexical source and some with only a dense source
    assert(got.exists(_._5.isEmpty) && got.exists(_._6.isEmpty),
      "both sources must contribute uniquely")
  }

  test("s16: filtered ANN — pre-filter truth replays in Scala, the post-" +
    "filter path preserves order where it finds, and starvation is real") {
    val lang = Tables.load(spark, sf, "documents")
      .select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val vecs = Tables.load(spark, sf, "embeddings").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val got = Similarity.s16FilteredAnn(spark, sf).collect()
    // every truth neighbor satisfies the predicate, ranks are contiguous,
    // and the found post ranks preserve the cosine order
    got.groupBy(_.getLong(0)).foreach { case (p, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("pre_rank"))
      assert(sorted.map(_.getAs[Long]("pre_rank")).toSeq == (1L to rs.length).toSeq)
      sorted.foreach(r => assert(lang(r.getLong(2)) == Similarity.FilterLang))
      val found = sorted.filter(_.getAs[Long]("is_found") == 1L)
        .map(_.getAs[Long]("post_rank"))
      assert(found.toSeq == found.sorted.toSeq, s"probe $p post order broke")
      // Scala replay of the pre-filter truth: top-k of the filtered corpus
      val expect = vecs.keys.filter(v => v != p && lang(v) == Similarity.FilterLang)
        .toSeq.map(v => (v, cos(vecs(p), vecs(v))))
        .sortBy { case (v, c) => (-c, v) }.take(Similarity.TopK).map(_._1)
      assert(sorted.map(_.getLong(2)).toSeq == expect, s"probe $p truth diverged")
    }
    // the starvation this operator exists to expose: at 14% selectivity a
    // 20-deep over-fetch cannot cover the truth (measured 21/50 missed)
    val missed = got.count(_.getAs[Long]("is_found") == 0L)
    info(s"post-filter missed $missed of ${got.length} truth pairs")
    assert(missed > 0, "post-filter starvation must be non-vacuous")
  }

  test("d15: prototype pruning — assignment agrees with s6 bit-for-bit, " +
    "the distributed per-cell rank is exact, terciles balance") {
    val got = Dedup.d15PrototypePrune(spark, sf).collect()
    val s6 = Similarity.s6ClusterAssign(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("cluster_id"), r.getAs[Long]("cos_e6"))).toMap
    assert(got.length == s6.size, "one verdict per vector")
    got.foreach { r =>
      val (cell, cos) = s6(r.getLong(0))
      assert(r.getAs[Long]("cell") == cell && r.getAs[Long]("cos_e6") == cos,
        s"assignment drift vs s6 at ${r.getLong(0)}")
      assert(r.getAs[Long]("is_kept") == (if (r.getAs[Long]("bucket") >= 1) 1L else 0L))
    }
    got.groupBy(_.getAs[Long]("cell")).foreach { case (cell, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("rank_in_cell"))
      val n = rs.length.toLong
      assert(sorted.map(_.getAs[Long]("rank_in_cell")).toSeq == (1L to n).toSeq,
        s"cell $cell ranks not a permutation")
      assert(rs.forall(_.getAs[Long]("n_cell") == n))
      // rank order is (cos desc, vec_id) — replay it locally
      val expect = rs.sortBy(r => (-r.getAs[Long]("cos_e6"), r.getLong(0)))
        .map(_.getLong(0)).toSeq
      assert(sorted.map(_.getLong(0)).toSeq == expect, s"cell $cell rank order")
      // exact tercile arithmetic and balance (sizes differ by <= 1)
      sorted.foreach { r =>
        val b = (r.getAs[Long]("rank_in_cell") - 1) * 3 / n
        assert(r.getAs[Long]("bucket") == b)
      }
      val sizes = rs.groupBy(_.getAs[Long]("bucket")).values.map(_.length)
      if (n >= 3) assert(sizes.max - sizes.min <= 1, s"cell $cell terciles $sizes")
    }
    // the shipped abundant-data policy prunes the most-prototypical third
    val pruned = got.count(_.getAs[Long]("is_kept") == 0L)
    info(s"pruned $pruned of ${got.length} (most-prototypical tercile)")
    // pruned = sum over cells of ceil(n_cell/3): tripled, that is within
    // 2 per cell of the corpus size in either direction
    assert(pruned * 3 <= got.length + 2 * 16 && pruned * 3 >= got.length - 2 * 16)
  }

  test("d11: the dedup eval closes against its own pipeline — truth is " +
    "d2's pair count, hits are exactly d3's confirmed pairs, arithmetic exact") {
    val r = Dedup.d11DedupEval(spark, sf).collect().head
    val nTruth = r.getAs[Long]("n_truth")
    val nCand = r.getAs[Long]("n_cand")
    val nHit = r.getAs[Long]("n_hit")
    assert(nTruth == Dedup.d2DedupNgram(spark, sf).count(),
      "truth must be d2's confirmed pair set")
    // d3 IS confirm(candidates), so its output count equals the hit count
    assert(nHit == Dedup.d3DedupMinhash(spark, sf).count(),
      "hits must be exactly d3's confirmed pairs")
    assert(nHit <= nCand && nHit <= nTruth)
    assert(r.getAs[Long]("precision_e6") ==
      math.floor(nHit * 1000000.0 / nCand).toLong)
    assert(r.getAs[Long]("recall_e6") ==
      math.floor(nHit * 1000000.0 / nTruth).toLong)
    // the shipped band geometry must actually be a high-recall candidate
    // stage on this corpus (d3's spec already pins pair-level equality
    // with d2; this is the aggregate view of the same fact)
    assert(r.getAs[Long]("recall_e6") >= 900000L,
      s"LSH candidate recall collapsed: ${r.getAs[Long]("recall_e6")}")
  }

  test("s10: NN-descent recall vs exact kNN improves monotonically from " +
    "the trivial seed and the verified form clears the floor") {
    // exact ground truth: per-vector top-k by (cos desc, id), plain Scala
    val vecs = Tables.load(spark, sf, "embeddings").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray).toMap
    def cosRaw(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val truth: Map[Long, Set[Long]] = vecs.map { case (v, ev) =>
      v -> vecs.toSeq.filter(_._1 != v)
        .map { case (u, eu) => (u, cosRaw(ev, eu)) }
        .sortBy { case (u, c) => (-c, u) }.take(Similarity.NndK)
        .map(_._1).toSet
    }
    def recall(iters: Int): Double = {
      val got = Similarity.s10NnDescentIter(spark, sf, iters)
        .select("vec_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val hits = truth.map { case (v, t) => got.getOrElse(v, Set.empty).count(t) }.sum
      hits.toDouble / truth.values.map(_.size).sum
    }
    val r0 = recall(0); val r1 = recall(1); val r2 = recall(2)
    info(f"recall@${Similarity.NndK}: seed $r0%.3f, 1 iter $r1%.3f, 2 iters $r2%.3f")
    // candidates always include the incumbent graph, so per-vector
    // quality is non-decreasing in iterations by construction
    assert(r0 <= r1 && r1 <= r2, f"recall not monotone: $r0%.3f / $r1%.3f / $r2%.3f")
    assert(r2 > r0, "refinement must actually improve on the random seed")
    // measured on the deterministic corpus: 0.01 → 0.83 → 0.98 at
    // k'=15; the verified 2-iteration form must stay a usable kNN graph
    assert(r2 >= 0.9, f"verified-form recall floor: $r2%.3f")
    // the seed stage is pluggable: explicit random seed == default
    // bit-for-bit, and warm-seeding from s7's sketch shortlist must buy
    // at least what the cold md5 seed gets from the same iteration count
    val explicit = Similarity.s10NnDescentFrom(spark, sf,
      Similarity.s10RandomSeed(spark, sf), Similarity.NndIters)
      .collect().map(_.toSeq).toSeq
    assert(explicit ==
      Similarity.s10NnDescent(spark, sf).collect().map(_.toSeq).toSeq,
      "explicit random seed must reproduce the default")
    import org.apache.spark.sql.functions.col
    // warm start = s7's sketch shortlist UNIONED with the covering random
    // seed (a probe-only shortlist ALONE strands the unseeded corpus —
    // measured 0.09 vs 0.81 probe recall — which is why the contract says
    // warm edges augment coverage, never replace it)
    val s7seed = Similarity.s7AnnBinary(spark, sf)
      .select(col("probe_id").as("vec_id"), col("neighbor_id"))
    val warmSeed = s7seed.unionByName(Similarity.s10RandomSeed(spark, sf))
    val warm = Similarity.s10NnDescentFrom(spark, sf, warmSeed, 1)
      .select("vec_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val cold1 = Similarity.s10NnDescentIter(spark, sf, 1)
      .select("vec_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // per-probe recall after ONE round: the sketch's good initial edges
    // must not lose to the cold seed on the vectors they cover
    val probes = s7seed.select("vec_id").distinct()
      .collect().map(_.getLong(0)).toSet
    def probeRecall(g: Map[Long, Set[Long]]) =
      probes.toSeq.map(v => g.getOrElse(v, Set.empty).count(truth(v))).sum.toDouble /
        probes.toSeq.map(v => truth(v).size).sum
    val rw = probeRecall(warm); val rc = probeRecall(cold1)
    info(f"probe recall after 1 round: warm(s7+random) $rw%.3f vs cold $rc%.3f")
    assert(rw >= rc - 0.05,
      f"warm s7 seeding should not lose to the cold seed: $rw%.3f vs $rc%.3f")
  }

  test("s10: the seed is id-space-safe — on a gappy vec_id space every " +
    "seed edge lands on a real vector (full degree) and refinement still " +
    "clears the recall floor") {
    import org.apache.spark.sql.functions.col
    // sparse ids: vec_id -> vec_id*7+3 (order-preserving, 6-wide gaps) —
    // the shape of a production corpus after deletes/shard-assigned ids
    val tmp = java.nio.file.Files.createTempDirectory("graft_s10_gappy").toString
    spark.read.parquet(s"$sf/embeddings.parquet")
      .withColumn("vec_id", col("vec_id") * 7L + 3L)
      .write.parquet(s"$tmp/embeddings.parquet")
    val ids = spark.read.parquet(s"$tmp/embeddings.parquet")
      .select("vec_id").collect().map(_.getLong(0)).sorted
    val n = ids.length
    // Scala replica of the seed rule: md5Long60(id:j) % n picks a RANK in
    // vec_id order, mapped back to the real id; self-edges dropped
    def md5Long60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    val expected = (for {
      id <- ids.toSeq
      j <- 1 to Similarity.NndSearchK
      nbr = ids((md5Long60(s"$id:$j") % n).toInt)
      if nbr != id
    } yield (id, nbr)).toSet
    val got = Similarity.s10RandomSeed(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected,
      s"seed mismatch on gappy ids: ${got.size} edges vs expected ${expected.size}")
    // the set equality above is the no-thinning proof: the gappy corpus
    // gets exactly the edges the hash prescribes, none dropped. The
    // degree bound below only sanity-checks the hash's INTRINSIC
    // collision loss (15 draws mod this tiny corpus lose ~3 edges to
    // birthday collisions + the self filter — identical on dense ids)
    val minDeg = expected.groupBy(_._1).values.map(_.size).min
    assert(minDeg >= Similarity.NndSearchK - 4,
      s"seed degree collapsed to $minDeg — not a usable covering seed")
    // the coverage contract survives: the verified 2-iteration form on
    // the gappy corpus still builds a usable kNN graph
    val vecs = spark.read.parquet(s"$tmp/embeddings.parquet").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray).toMap
    def cosRaw(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val truth: Map[Long, Set[Long]] = vecs.map { case (v, ev) =>
      v -> vecs.toSeq.filter(_._1 != v)
        .map { case (u, eu) => (u, cosRaw(ev, eu)) }
        .sortBy { case (u, c) => (-c, u) }.take(Similarity.NndK)
        .map(_._1).toSet
    }
    val gotNn = Similarity.s10NnDescentIter(spark, tmp, Similarity.NndIters)
      .select("vec_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val hits = truth.map { case (v, t) => gotNn.getOrElse(v, Set.empty).count(t) }.sum
    val recall = hits.toDouble / truth.values.map(_.size).sum
    info(f"gappy-id recall@${Similarity.NndK}: $recall%.3f")
    assert(recall >= 0.9, f"recall contract broke on sparse ids: $recall%.3f")
  }

  test("s3 oracle publishes only after its result materializes, keyed by dir") {
    // building the s3 plan trains k-means (pending state per dir) but must
    // NOT publish an oracle — the result it describes does not exist yet
    Similarity.s3AnnIvf(spark, sf)
    assert(!SparkEntry.oracleSql.contains("s3_ann_ivf"),
      "oracle shipped for a result that never materialized")
    // confirming a dir s3 never ran against is a no-op
    SparkEntry.markMaterialized("s3_ann_ivf", "/no/such/dir")
    assert(!SparkEntry.oracleSql.contains("s3_ann_ivf"))
    // Verify's post-write hook publishes the dir's centroids
    SparkEntry.markMaterialized("s3_ann_ivf", sf)
    assert(SparkEntry.oracleSql.contains("s3_ann_ivf"))
    // two dirs confirmed in one JVM is ambiguous (the single-dump oracle
    // cannot say which run it describes) — degrade to the rows-only check
    val tmp = java.nio.file.Files.createTempDirectory("graft_s3_dir").toString
    spark.read.parquet(s"$sf/embeddings.parquet")
      .write.parquet(s"$tmp/embeddings.parquet")
    Similarity.s3AnnIvf(spark, tmp)
    SparkEntry.markMaterialized("s3_ann_ivf", tmp)
    assert(!SparkEntry.oracleSql.contains("s3_ann_ivf"))
  }

  test("s1: exactly top-k per probe, ranks contiguous, cosine descending") {
    val r = Similarity.s1AnnBrute(spark, sf).collect()
    r.groupBy(_.getAs[Long]("probe_id")).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("rank"))
      assert(sorted.map(_.getAs[Long]("rank")).toSeq == (1L to sorted.length))
      val cs = sorted.map(_.getAs[Long]("cos_e6"))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    }
  }

  test("s4: PQ shortlist + exact re-rank — ranks contiguous, cosine " +
    "descending, recall@5 vs s1 above the coarse-code floor, oracle gated") {
    val brute = Similarity.s1AnnBrute(spark, sf).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
    val pq = Similarity.s4AnnPq(spark, sf).collect()
    pq.groupBy(_.getAs[Long]("probe_id")).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("rank"))
      assert(sorted.map(_.getAs[Long]("rank")).toSeq == (1L to sorted.length))
      val cs = sorted.map(_.getAs[Long]("cos_e6"))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    }
    val hits = pq.count(r =>
      brute.contains((r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))))
    assert(hits.toDouble / brute.size >= 0.6,
      s"recall@5 $hits/${brute.size} below the 4-bit-code + rerank floor")
    // run-state oracle gating, like s3: pending until Verify confirms
    assert(!SparkEntry.oracleSql.contains("s4_ann_pq"))
    SparkEntry.markMaterialized("s4_ann_pq", sf)
    assert(SparkEntry.oracleSql.get("s4_ann_pq").exists(_.contains("cents")))
  }

  test("d9: a junk prefix shifts no downstream chunk boundaries — the " +
    "copied passage is found, counts match an independent recompute") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, length}
    // the longest sf doc plays the copied passage
    val passage = spark.read.parquet(s"$sf/documents.parquet")
      .orderBy(length(col("text")).desc, col("doc_id")).select("text")
      .as[String].head()
    val dir = java.nio.file.Files.createTempDirectory("graft_d9").toString
    Seq((0L, passage, "s"), (1L, "zz qq ww " + passage, "s"),
      (2L, "totally unrelated words only here", "s"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // independent chunker: same boundary rule, plain Scala
    def md5_60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    def chunksOf(text: String): Seq[String] = {
      val toks = text.trim.split("\\s+").toSeq
      val out = scala.collection.mutable.ArrayBuffer.empty[List[String]]
      var cur = List.empty[String]
      toks.foreach { t =>
        cur = cur :+ t
        if (md5_60(t) % Dedup.ChunkMod == 0) { out += cur; cur = Nil }
      }
      if (cur.nonEmpty) out += cur
      out.toSeq.filter(_.size >= Dedup.MinChunkToks).map(_.mkString(" "))
    }
    val c0 = chunksOf(passage)
    val c1 = chunksOf("zz qq ww " + passage)
    val expectedShared = (c0.toSet intersect c1.toSet).size
    assume(expectedShared >= Dedup.MinSharedChunks, "passage too short to chunk")
    val r = Dedup.d9DedupChunks(spark, dir).collect()
      .map(x => (x.getAs[Long]("doc_id_1"), x.getAs[Long]("doc_id_2")) -> x).toMap
    assert(r.contains((0L, 1L)), "the copied passage must pair its two hosts")
    assert(!r.keySet.exists { case (a, b) => a == 2L || b == 2L },
      "the unrelated doc must not pair")
    val row = r((0L, 1L))
    assert(row.getAs[Long]("n_shared_chunks") == expectedShared.toLong)
    assert(row.getAs[Long]("containment_e6") ==
      expectedShared.toLong * 1000000L / math.min(c0.size, c1.size))
  }

  test("d14: a boundary-straddling verbatim passage is invisible to d9 " +
    "(zero shared CDC chunks) but d14 reports it at exact offsets/length") {
    import spark.implicits._
    def md5_60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    // 24 tokens, none of which closes a CDC chunk (md5 % ChunkMod != 0):
    // no boundary fires inside the passage, so in each host the chunk
    // containing it extends into that host's own junk — the chunk
    // fingerprints differ, d9 sees ZERO shared chunks no matter how long
    // the verbatim copy is. d14 probes every gram offset and needs no
    // boundary luck.
    val passage = (0 until 2000).iterator.map(i => s"w$i")
      .filter(t => md5_60(t) % Dedup.ChunkMod != 0).take(24).toSeq
    assert(passage.forall(t => md5_60(t) % Dedup.ChunkMod != 0))
    // host-specific junk; different lengths so start_1 != start_2
    val doc0 = (Seq("alpha", "beta", "gamma") ++ passage ++
      Seq("omega", "omicron")).mkString(" ")
    val doc1 = (Seq("delta", "epsilon", "zeta", "eta", "theta") ++ passage ++
      Seq("psi", "phi", "chi")).mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft_d14").toString
    Seq((0L, doc0, "s"), (1L, doc1, "s"),
      (2L, "totally unrelated words only present here never shared", "s"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(Dedup.d9DedupChunks(spark, dir).collect().isEmpty,
      "premise: the straddling passage must yield no shared chunk for d9")
    val runs = Dedup.d14SubstringDedup(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id_1"), r.getAs[Long]("doc_id_2"),
        r.getAs[Long]("start_1"), r.getAs[Long]("start_2"),
        r.getAs[Long]("run_toks")))
    // the 24-token passage: 24-8+1 = 17 consecutive shared grams at one
    // offset difference -> one maximal run of 17+8-1 = 24 tokens starting
    // at token 4 of doc0 (after 3 junk tokens) and token 6 of doc1
    assert(runs.toSeq == Seq((0L, 1L, 4L, 6L, 24L)))
  }

  test("s6: every vector assigned to its argmax centroid (recomputed " +
    "independently), assignment deterministic, oracle gated per dir") {
    val r = Similarity.s6ClusterAssign(spark, sf).collect()
    val emb = Tables.load(spark, sf, "embeddings").collect()
      .map(x => x.getAs[Long]("vec_id") ->
        x.getSeq[Float](x.fieldIndex("embedding")).toArray).toMap
    assert(r.length == emb.size, "every vector must be assigned")
    assert(r.map(_.getAs[Long]("cluster_id")).distinct.length > 1)
    // independent argmax recompute from the trained model, with the same
    // (max cos, min cid) tie-break
    val cents = Similarity.kmeansCentroids(spark, sf)
      .map { case (cid, c) => cid -> c.map(_.toDouble / Similarity.KmScale) }
    def cos(a: Array[Float], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i) * b(i)
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    r.foreach { row =>
      val v = row.getAs[Long]("vec_id")
      val best = cents.map { case (cid, c) => (cos(emb(v), c), -cid, cid) }.max
      assert(row.getAs[Long]("cluster_id") == best._3, s"vec $v argmax")
      assert(row.getAs[Long]("cos_e6") == math.floor(best._1 * 1e6).toLong, s"vec $v cos")
    }
    // gating: pending until Verify confirms THIS entry (s3's confirm for
    // the same dir must not leak an s6 oracle)
    assert(!SparkEntry.oracleSql.contains("s6_cluster_assign"))
    SparkEntry.markMaterialized("s6_cluster_assign", sf)
    assert(SparkEntry.oracleSql.get("s6_cluster_assign").exists(_.contains("cents")))
  }

  test("s5: every vector ranked, ranks contiguous, no self-neighbors, and " +
    "every d5 near-dup pair is reported or outranked on both ends") {
    val r = Similarity.s5KnnJoin(spark, sf).collect()
    val byVec = r.groupBy(_.getAs[Long]("vec_id"))
    // at the 16x4 slicing every corpus vector has at least one band
    // collision — an accidental coverage drop (e.g. a band-slicing bug)
    // must fail here, not silently shrink the output
    val nVecs = Tables.load(spark, sf, "embeddings").count()
    assert(byVec.size.toLong == nVecs,
      s"only ${byVec.size} of $nVecs vectors produced neighbor rows")
    byVec.foreach { case (v, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("rank"))
      assert(sorted.map(_.getAs[Long]("rank")).toSeq == (1L to sorted.length))
      val cs = sorted.map(_.getAs[Long]("cos_e6"))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
      assert(rows.forall(_.getAs[Long]("neighbor_id") != v))
    }
    // the kNN join must not MISS a confirmed near-dup: each d5 pair either
    // appears in some direction, or BOTH endpoints carry a full top-k of
    // neighbors at least as close (legitimately outranked — e.g. inside a
    // near-dup cluster wider than k)
    val reported = r.map(x =>
      (x.getAs[Long]("vec_id"), x.getAs[Long]("neighbor_id"))).toSet
    val kthCos = byVec.map { case (v, rows) =>
      v -> (rows.length, rows.map(_.getAs[Long]("cos_e6")).min)
    }
    val pairs = Dedup.d5DedupEmbed(spark, sf).collect()
    assert(pairs.nonEmpty)
    pairs.foreach { p =>
      val (a, b, c) = (p.getAs[Long]("vec_id_1"), p.getAs[Long]("vec_id_2"),
        p.getAs[Long]("cos_e6"))
      val hit = reported.contains((a, b)) || reported.contains((b, a))
      def outranked(v: Long) = kthCos.get(v)
        .exists { case (n, worst) => n == Similarity.KnnK && worst >= c }
      assert(hit || (outranked(a) && outranked(b)),
        s"d5 pair ($a,$b,cos_e6=$c) neither reported nor outranked")
    }
  }

  test("s2: bucketed results are a subset of the probe's bucket and " +
    "recall@k vs s1 is sane") {
    val brute = Similarity.s1AnnBrute(spark, sf).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
    val lsh = Similarity.s2AnnLsh(spark, sf).collect()
    // every probe appearing in s2 output found some neighbors in-bucket;
    // recall against brute force is data-dependent but must be nonzero
    // overall for 256-bucket LSH on clustered embeddings
    val hits = lsh.count(r =>
      brute.contains((r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))))
    assert(lsh.isEmpty || hits > 0)
  }

  test("s8: recall report recomputes exactly from the s1/s2 result sets — " +
    "hits bounded, every probe present, arithmetic closes") {
    val exact = Similarity.s1AnnBrute(spark, sf).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id")))
    val approx = Similarity.s2AnnLsh(spark, sf).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id")))
    val rep = Similarity.s8RecallEval(spark, sf).collect()
      .map(r => r.getAs[Long]("probe_id") ->
        ((r.getAs[Long]("n_exact"), r.getAs[Long]("n_approx"),
          r.getAs[Long]("n_hit"), r.getAs[Long]("recall_e6")))).toMap
    assert(rep.keySet == exact.map(_._1).toSet, "one row per probed vector")
    val approxSet = approx.toSet
    rep.foreach { case (p, (ne, na, nh, rec)) =>
      val exactN = exact.filter(_._1 == p).map(_._2)
      assert(ne == exactN.length)
      assert(na == approx.count(_._1 == p))
      assert(nh == exactN.count(n => approxSet((p, n))),
        s"probe $p: hit count must be the exact∩approx overlap")
      assert(nh <= math.min(ne, na))
      assert(rec == nh * 1000000L / ne)
    }
    // conservation: total hits == |exact ∩ approx| (on this random-vector
    // corpus single-bucket LSH recall is LOW — near-orthogonal pairs split
    // ~50/50 per plane — and the monitor's job is precisely to report
    // that honestly, so no recall floor is asserted here)
    assert(rep.values.map(_._3).sum == exact.count(approxSet),
      "hit totals must conserve across probes")
  }

  test("s7: exactly k re-ranked rows per probe, hamming within [0, 64], " +
    "cosine ranks descend, and recall@5 vs s1 clears the sketch floor") {
    val s7 = Similarity.s7AnnBinary(spark, sf).collect()
    val byProbe = s7.groupBy(_.getAs[Long]("probe_id"))
    assert(byProbe.size == Similarity.NumProbes)
    byProbe.foreach { case (_, rows) =>
      assert(rows.length == Similarity.TopK)
      assert(rows.map(_.getAs[Long]("rank")).sorted.sameElements(1L to 5L))
      val byRank = rows.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("cos_e6"))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b },
        "re-ranked cosine must descend with rank")
      assert(rows.forall(r => r.getAs[Long]("hamming") >= 0
        && r.getAs[Long]("hamming") <= Similarity.BinPlanes))
    }
    // recall of the 64-bit sketch + 6.4x-deep shortlist vs exact brute
    // force. This corpus's true neighbors sit at cos ~0.32 — a 1.7 sigma
    // hamming gap (see the operator's scaladoc) — so the justified floor
    // is "several times better than a random shortlist" (32/499 ~ 0.064),
    // not the near-1 recall a cos>=0.8 near-dup corpus would measure.
    val brute = Similarity.s1AnnBrute(spark, sf).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
    val hits = s7.count(r =>
      brute.contains((r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))))
    assert(hits.toDouble / brute.size >= 0.25,
      s"recall@5 $hits/${brute.size} below 4x the random-shortlist rate")
  }

  test("d13: the sweep's floor row equals d2 exactly, the curve is " +
    "monotone in tau, and empty thresholds zero-fill") {
    import org.apache.spark.sql.functions.col
    val rows = Dedup.d13ThresholdSweep(spark, sf).collect()
      .map(r => (r.getAs[Long]("tau_e6"), r.getAs[Long]("n_pairs"),
        r.getAs[Long]("n_docs"), r.getAs[Long]("n_dropped_keepmin")))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == Dedup.SweepTausE6,
      "every configured threshold must report a row")
    // the floor row is d2's operating point — same pairs, same docs
    val d2 = Dedup.d2DedupNgram(spark, sf)
      .select(col("doc_id_1"), col("doc_id_2")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val floor = rows.head
    assert(floor._2 == d2.length.toLong)
    assert(floor._3 == d2.flatMap(p => Seq(p._1, p._2)).distinct.length.toLong)
    assert(floor._4 == d2.map(_._2).distinct.length.toLong)
    // tightening tau can only shrink every statistic
    rows.sliding(2).foreach {
      case Array(lo, hi) =>
        assert(hi._2 <= lo._2 && hi._3 <= lo._3 && hi._4 <= lo._4,
          s"curve not monotone between ${lo._1} and ${hi._1}")
      case _ => ()
    }
    rows.foreach { case (tau, nPairs, nDocs, nDropped) =>
      assert(nDocs <= 2 * nPairs, s"tau $tau: more docs than pair slots")
      assert(nDropped <= nDocs, s"tau $tau: dropped more than affected")
      if (nPairs == 0) assert(nDocs == 0 && nDropped == 0,
        s"tau $tau: empty threshold must zero-fill")
    }
    // non-vacuous on the shipped corpus: the floor finds dups AND at
    // least one tightening step actually shrinks the curve
    assert(floor._2 > 0)
    assert(rows.last._2 < floor._2)
  }

  test("s13: fused ranking replays exactly from the s2/s7 shortlists, " +
    "and single- and dual-source candidates both compete") {
    import org.apache.spark.sql.functions.col
    def ranks(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Long] =
      df.select(col("probe_id"), col("neighbor_id"), col("rank")).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val lsh = ranks(Similarity.s2AnnLsh(spark, sf))
    val bin = ranks(Similarity.s7AnnBinary(spark, sf))
    val k = Similarity.RrfK
    val expected = (lsh.keySet ++ bin.keySet).groupBy(_._1).flatMap {
      case (probe, pairs) =>
        val scored = pairs.toSeq.map { key =>
          val s = lsh.get(key).map(r => 1000000L / (k + r)).getOrElse(0L) +
            bin.get(key).map(r => 1000000L / (k + r)).getOrElse(0L)
          (key._2, s, lsh.get(key), bin.get(key))
        }.sortBy { case (nb, s, _, _) => (-s, nb) }.take(Similarity.FusedK)
        scored.zipWithIndex.map { case ((nb, s, lr, br), i) =>
          (probe, i + 1L) -> ((nb, s, lr, br,
            lr.size.toLong + br.size.toLong))
        }
    }
    val got = Similarity.s13RankFusion(spark, sf).collect().map { r =>
      (r.getAs[Long]("probe_id"), r.getAs[Long]("fused_rank")) ->
        ((r.getAs[Long]("neighbor_id"), r.getAs[Long]("score_e6"),
          Option(r.getAs[java.lang.Long]("lsh_rank")).map(_.toLong),
          Option(r.getAs[java.lang.Long]("bin_rank")).map(_.toLong),
          r.getAs[Long]("n_sources")))
    }.toMap
    assert(got == expected, {
      val diff = (expected.keySet ++ got.keySet)
        .filter(x => expected.get(x) != got.get(x)).take(3)
      s"fusion mismatch at $diff: expected ${diff.map(expected.get)}, got ${diff.map(got.get)}"
    })
    // the fusion is non-vacuous in both regimes: candidates the indexes
    // AGREE on and candidates only one index surfaced both reach the
    // fused top-k somewhere
    val srcCounts = got.values.map(_._5).toSet
    assert(srcCounts.contains(2L), "no dual-source candidate won")
    assert(srcCounts.contains(1L), "no single-source candidate won")
  }

  test("s12: drift report conserves the corpus, matches an independent " +
    "mean/drift recompute, and both drift and churn are non-vacuous") {
    import org.apache.spark.sql.functions.col
    val report = Similarity.s12IndexDrift(spark, sf).collect()
      .map(r => r.getAs[Long]("cell") ->
        (r.getAs[Long]("n_members"), r.getAs[Long]("n_new"),
          r.getAs[Long]("min_member_cos_e6"), r.getAs[Long]("drift_cos_e6"),
          r.getAs[Long]("n_moved"))).toMap
    val (cents, means) = Similarity.s12ModelAndMeans(spark, sf)
    val cids = cents.map(_._1).toSet
    assert(report.keySet.subsetOf(cids), "report invents a cell")
    // conservation: every vector is a member of exactly one cell; the new
    // slice is the d8/t5 md5 bucket recounted independently
    val nVecs = Tables.load(spark, sf, "embeddings").count()
    assert(report.values.map(_._1).sum == nVecs)
    def md5Hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val nNew = Tables.load(spark, sf, "embeddings").select("vec_id").collect()
      .map(_.getLong(0))
      .count(id => java.lang.Long.parseLong(md5Hex(id.toString).substring(0, 15), 16)
        % 100 >= Dedup.NewBucketMin)
    assert(report.values.map(_._2).sum == nNew.toLong)
    // drift recompute: the report's cosine between stored centroid and
    // recomputed mean, replayed with the same fixed-point → double math
    def cosE6(a: Array[Long], b: Array[Long]): Long = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble / 1000000L; val y = b(i).toDouble / 1000000L
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      math.floor(dot / (math.sqrt(na) * math.sqrt(nb)) * 1e6).toLong
    }
    val centMap = cents.toMap
    report.foreach { case (cell, (_, _, _, drift, _)) =>
      assert(means.contains(cell), s"cell $cell has members but no mean")
      assert(drift == cosE6(centMap(cell), means(cell)), s"drift of cell $cell")
    }
    // non-vacuous: the 20% batch actually drifted the means off the stored
    // centroids (drift < 1.0 everywhere), and a rebuild would actually
    // move vectors (churn > 0 somewhere); per-cell churn stays bounded by
    // membership and every cosine is a valid e6 floor
    report.values.foreach { case (n, nNewC, minCos, drift, moved) =>
      assert(drift < 1000000L && drift > 0L)
      assert(moved >= 0L && moved <= n)
      assert(minCos >= -1000000L && minCos <= 1000000L)
      assert(nNewC <= n)
    }
    assert(report.values.map(_._5).sum > 0L, "reassignment churn is vacuous")
  }

  test("d16: the source-overlap matrix is exactly d2's pair table rolled " +
    "up by unordered source pair — counts, floor-e6 means and maxima") {
    val pairs = Dedup.d2DedupNgram(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id_1"), r.getAs[Long]("doc_id_2"),
        r.getAs[Long]("jaccard_e6")))
    val src = Tables.load(spark, sf, "documents").select("doc_id", "source")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = pairs.groupBy { case (a, b, _) =>
      val (sa, sb) = (src(a), src(b))
      if (sa <= sb) (sa, sb) else (sb, sa)
    }.map { case (k, ps) =>
      val js = ps.map(_._3)
      k -> (js.length.toLong, js.sum / js.length, js.max)
    }
    val got = Dedup.d16SourceOverlap(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n_dup_pairs"), r.getAs[Long]("avg_jaccard_e6"),
          r.getAs[Long]("max_jaccard_e6"))).toMap
    assert(got == expected, "matrix diverged from the d2 rollup")
    assert(got.nonEmpty, "the shipped corpus must exercise the shape")
    info(s"${got.size} source pairs, ${pairs.length} dup pairs, " +
      s"cross-source: ${got.keys.count(k => k._1 != k._2)}")
  }

  test("s17: erasure plan conserves the corpus, counts p21's request list " +
    "exactly, and every verdict obeys the integer threshold arithmetic") {
    val rows = Similarity.s17TombstonePlan(spark, sf).collect()
    val (totRows, perRows) = rows.partition(_.getAs[String]("cell") == "~TOTAL")
    assert(totRows.length == 1, "exactly one ~TOTAL row")
    val tot = totRows.head
    // conservation: every vector is a posting of exactly one cell
    val nVecs = Tables.load(spark, sf, "embeddings").count()
    assert(perRows.map(_.getAs[Long]("n_members")).sum == nVecs)
    assert(tot.getAs[Long]("n_members") == nVecs)
    // the request list is p21's convention, recounted independently
    val mod = graft.pipeline.PipelineQueries.ErasureMod
    val nDead = Tables.load(spark, sf, "embeddings").select("vec_id").collect()
      .count(_.getLong(0) % mod == 0).toLong
    assert(nDead > 0, "request list is vacuous at this scale")
    assert(perRows.map(_.getAs[Long]("n_dead")).sum == nDead)
    assert(tot.getAs[Long]("n_dead") == nDead)
    // cells come from the same deterministic full-corpus model s3 trains
    val cids = Similarity.kmeansCentroids(spark, sf).map(_._1.toString).toSet
    perRows.foreach { r =>
      assert(cids.contains(r.getAs[String]("cell")), "plan invents a cell")
      val n = r.getAs[Long]("n_members"); val d = r.getAs[Long]("n_dead")
      assert(r.getAs[Long]("dead_pct_e6") == d * 1000000L / n)
      val expected =
        if (d == 0) "clean"
        else if (d * Similarity.DeadRewriteDen >= n) "rewrite" else "mask"
      assert(r.getAs[String]("verdict") == expected)
      assert(r.getAs[Long]("rewrite_rows") ==
        (if (expected == "rewrite") n - d else 0L))
      assert(r.getAs[Long]("tombstones") == (if (expected == "mask") d else 0L))
    }
    assert(tot.getAs[Long]("rewrite_rows") ==
      perRows.map(_.getAs[Long]("rewrite_rows")).sum)
    assert(tot.getAs[Long]("tombstones") ==
      perRows.map(_.getAs[Long]("tombstones")).sum)
    // the batch actually lands somewhere: the dial is non-vacuous
    assert(perRows.exists(_.getAs[String]("verdict") != "clean"))
    info(s"verdicts: ${perRows.groupBy(_.getAs[String]("verdict"))
      .map { case (v, rs) => s"$v=${rs.length}" }.mkString(", ")}")
  }

  test("d17: matches a brute-force directed-containment replay, and a " +
    "planted subset pair invisible to d2's resemblance is caught") {
    // independent replay on the shipped corpus: string shingles (no
    // hashing), all ordered pairs, set arithmetic only
    def toks(text: String): Seq[String] = {
      val t = text.replaceAll("^\\s+|\\s+$", "")
      if (t.isEmpty) Seq.empty else t.split("\\s+").toSeq
    }
    def shingleSet(text: String): Set[String] = {
      val ts = toks(text)
      if (ts.size < 3) Set.empty
      else ts.sliding(3).map(_.mkString(" ")).toSet
    }
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> shingleSet(r.getString(1)))
    val expected = (for {
      (a, sa) <- docs; (b, sb) <- docs
      if a != b && sa.nonEmpty
      c = (sa intersect sb).size
      if c * Dedup.TauCDen >= sa.size * Dedup.TauCNum
    } yield (a, b, c.toLong)).toSet
    val got = Dedup.d17ContainmentDedup(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id_1"), r.getAs[Long]("doc_id_2"),
        r.getAs[Long]("n_common"))).toSet
    assert(got == expected, "hash-blocked prefix join diverged from brute force")
    // the asymmetric catch: a short doc pasted into a much longer one.
    // C(A→B) = 1 while Jaccard ~ |A|/|B| — d2 (resemblance >= 0.8) is
    // blind to it by construction.
    import spark.implicits._
    val short = (0 until 25).map(i => s"p$i").mkString(" ")
    val long = short + " " + (0 until 300).map(i => s"q$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft_d17").toString
    Seq((0L, short, "s"), (1L, long, "s"),
      (2L, "totally unrelated filler words never shared with anything", "s"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(!Dedup.d2DedupNgram(spark, dir).collect()
      .exists(r => r.getAs[Long]("doc_id_1") == 0L &&
        r.getAs[Long]("doc_id_2") == 1L),
      "premise: the subset pair must sit below d2's resemblance threshold")
    val planted = Dedup.d17ContainmentDedup(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id_1"), r.getAs[Long]("doc_id_2")) -> r)
      .toMap
    assert(planted.contains((0L, 1L)), "contained→container pair missing")
    val p = planted((0L, 1L))
    assert(p.getAs[Long]("containment_e6") == 1000000L, "A fully inside B")
    assert(p.getAs[Long]("jaccard_e6") < (Dedup.JaccardTau * 1e6).toLong,
      "the catch must be one resemblance cannot make")
    assert(!planted.contains((1L, 0L)), "containment is directed: B is not in A")
    assert(!planted.keys.exists { case (a, b) => a == 2L || b == 2L },
      "the unrelated doc must not pair")
  }

  test("s18: SQ8 codes and reconstruction error replay literally in " +
    "Scala, and the grid error never exceeds one quantization step") {
    val vecs = Tables.load(spark, sf, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    val dim = operators.Similarity.Dim
    val mins = Array.tabulate(dim)(i => vecs.map(_._2(i)).min)
    val maxs = Array.tabulate(dim)(i => vecs.map(_._2(i)).max)
    def codesOf(e: Array[Double]): Array[Long] = Array.tabulate(dim) { i =>
      if (maxs(i) == mins(i)) 0L
      else math.min(255L, math.max(0L,
        math.floor((e(i) - mins(i)) * 255.0 / (maxs(i) - mins(i))).toLong))
    }
    val expected = vecs.map { case (id, e) =>
      val c = codesOf(e)
      val err = (0 until dim).map { i =>
        val d = e(i) - (mins(i) + (c(i) * (maxs(i) - mins(i))) / 255.0)
        math.floor(d * d * 1000000000000.0).toLong
      }.sum
      id -> (c.sum, c.zipWithIndex.map { case (v, i) => v * (i + 1) }.sum, err)
    }.toMap
    val got = operators.Similarity.s18Sq8Quantize(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("sum_code"), r.getAs[Long]("checksum"),
          r.getAs[Long]("err_e12"))).toMap
    assert(got == expected, "SQ8 quantization diverged from literal replay")
    assert(got.nonEmpty, "the shipped corpus must exercise the shape")
    // the grid contract: per-element error < one step (range/255), so the
    // per-vector e12 total is bounded by dim * max_step^2 * 1e12
    val maxStep = (0 until dim).map(i => (maxs(i) - mins(i)) / 255.0).max
    val bound = (dim * maxStep * maxStep * 1.000001e12).toLong
    got.values.foreach { case (_, _, err) =>
      assert(err <= bound, s"reconstruction error $err beyond grid bound $bound")
    }
    // codes must actually use the range (an all-zero code table would
    // pass the error bound trivially on a degenerate corpus)
    assert(got.values.map(_._1).max > 0L, "codes must be non-trivial")
  }

  test("s19: the beam walk replays literally in Scala over the s5 graph " +
    "— per-round beam membership included — and the walk genuinely " +
    "escapes the entry set") {
    import operators.Similarity.{BeamEntries, BeamRounds, BeamTopK, BeamWidth, NumProbes}
    val vecs = Tables.load(spark, sf, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cosE6(a: Array[Float], b: Array[Float]): Long = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      math.floor(dot / (math.sqrt(na) * math.sqrt(nb)) * 1e6).toLong
    }
    // the graph is s5's OWN verified artifact — take it as given
    val graph = operators.Similarity.s5KnnJoin(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("neighbor_id"))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val probes = vecs.keys.filter(_ < NumProbes).toSeq.sorted
    val entries = vecs.keys.filter(_ < BeamEntries).toSet
    val expected = probes.flatMap { p =>
      def top(c: Set[Long], n: Int): Seq[Long] = c.toSeq
        .map(id => (id, cosE6(vecs(p), vecs(id))))
        .sortBy { case (id, s) => (-s, id) }.take(n).map(_._1)
      var beam = top(entries - p, BeamWidth)
      for (_ <- 2 to BeamRounds) {
        val cand = (beam.toSet ++
          beam.flatMap(c => graph.getOrElse(c, Set.empty))) - p
        beam = top(cand, BeamWidth)
      }
      top(beam.toSet, BeamTopK).zipWithIndex.map { case (id, i) =>
        (p, i + 1L) -> (id, cosE6(vecs(p), vecs(id)))
      }
    }.toMap
    val got = operators.Similarity.s19GraphBeam(spark, sf).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("rank")) ->
        (r.getAs[Long]("neighbor_id"), r.getAs[Long]("cos_e6"))).toMap
    assert(got == expected, "beam walk diverged from literal replay")
    assert(got.nonEmpty, "the shipped corpus must exercise the shape")
    // the walk must find neighbors OUTSIDE the entry set, or the graph
    // expansion is vacuous and this is just s1 over 4 candidates
    assert(got.values.exists { case (id, _) => !entries.contains(id) },
      "the beam never escaped the entry points")
    info(s"${got.size} result rows over ${probes.size} probes; " +
      s"escaped-entry results: ${got.values.count(v => !entries.contains(v._1))}")
  }

  test("s26: the layered HNSW descent replays literally in Scala — " +
    "geometric md5 levels, per-layer re-linked graphs, entry fallback, " +
    "and the 7 unrolled rounds — and the upper layers are populated") {
    import operators.Similarity.{BeamTopK, BeamWidth, HnswBeamRounds,
      HnswUpperRounds, HnswUpperWidth, NumProbes, KnnK}
    val vecs = Tables.load(spark, sf, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cosE6(a: Array[Float], b: Array[Float]): Long = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      math.floor(dot / (math.sqrt(na) * math.sqrt(nb)) * 1e6).toLong
    }
    def md5Long60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.map("%02x".format(_)).mkString.take(15), 16)
    }
    val lvl = vecs.keys.map { id =>
      val h = md5Long60(id.toString)
      id -> (if (h % 16 == 0) 2 else if (h % 4 == 0) 1 else 0)
    }.toMap
    assert(lvl.values.exists(_ >= 1) && lvl.values.exists(_ >= 2),
      "geometric sampling left an upper layer empty — the descent is " +
        s"vacuous at this corpus size (counts: ${lvl.values.groupBy(identity).view.mapValues(_.size).toMap})")
    // per-layer graphs re-linked from s5's scored pair artifact
    val pairs = operators.Similarity.knnScoredPairs(spark, sf).collect()
      .map(r => (r.getAs[Long]("va"), r.getAs[Long]("vb"), r.getAs[Long]("cos_e6")))
    def layerGraph(l: Int): Map[Long, Seq[Long]] = {
      val p2 = pairs.filter { case (a, b, _) => lvl(a) >= l && lvl(b) >= l }
      val mirrored = p2.flatMap { case (a, b, c) => Seq((a, b, c), (b, a, c)) }
      mirrored.groupBy(_._1).view.mapValues(_.toSeq
        .sortBy { case (_, dst, c) => (-c, dst) }.take(KnnK).map(_._2)).toMap
    }
    val graphs = Map(2 -> layerGraph(2), 1 -> layerGraph(1), 0 -> layerGraph(0))
    val entry = Seq(2, 1).view.flatMap(l =>
        lvl.collect { case (id, v) if v >= l => id }.toSeq.sorted.headOption)
      .headOption.getOrElse(vecs.keys.min)
    val probes = vecs.keys.filter(_ < NumProbes).toSeq.sorted
    val layers = Seq.fill(HnswUpperRounds)((2, HnswUpperWidth)) ++
      Seq.fill(HnswUpperRounds)((1, HnswUpperWidth)) ++
      Seq.fill(HnswBeamRounds)((0, BeamWidth))
    val expected = probes.flatMap { p =>
      def top(c: Set[Long], n: Int): Seq[Long] = c.toSeq
        .map(id => (id, cosE6(vecs(p), vecs(id))))
        .sortBy { case (id, s) => (-s, id) }.take(n).map(_._1)
      var beam = Seq.empty[Long]
      for ((l, width) <- layers) {
        val base = beam.toSet + entry
        val cand = (base ++
          base.flatMap(c => graphs(l).getOrElse(c, Seq.empty))) - p
        beam = top(cand, width)
      }
      top(beam.toSet, BeamTopK).zipWithIndex.map { case (id, i) =>
        (p, i + 1L) -> (id, cosE6(vecs(p), vecs(id)))
      }
    }.toMap
    val got = operators.Similarity.s26HnswLayers(spark, sf).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("rank")) ->
        (r.getAs[Long]("neighbor_id"), r.getAs[Long]("cos_e6"))).toMap
    assert(got == expected, "layered descent diverged from literal replay")
    assert(got.nonEmpty, "the shipped corpus must exercise the shape")
    // the descent must escape the entry point, or the hierarchy did no work
    assert(got.values.exists { case (id, _) => id != entry },
      "every result is the entry point — the walk never moved")
    info(s"entry $entry (lvl ${lvl(entry)}); levels: " +
      s"${lvl.values.groupBy(identity).view.mapValues(_.size).toMap}; " +
      s"${got.size} rows over ${probes.size} probes")
  }

  test("s20: each budget's results equal s3 run AT that nprobe, hit " +
    "counts replay against s1, and the curve is monotone in nprobe") {
    import operators.Similarity
    val rows = Similarity.s20NprobeSweep(spark, sf).collect()
      .map(r => r.getAs[Long]("nprobe") ->
        (r.getAs[Long]("n_candidates"), r.getAs[Long]("n_results"),
          r.getAs[Long]("n_hits"), r.getAs[Long]("n_exact"),
          r.getAs[Long]("recall_e6"))).toMap
    assert(rows.keySet == Similarity.SweepBudgets.map(_.toLong).toSet)
    val exact = Similarity.s1AnnBrute(spark, sf).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
    Similarity.SweepBudgets.foreach { b =>
      // the sweep row must be s3's OWN result at this dial setting
      val s3 = Similarity.s3AnnIvf(spark, sf, b).collect()
        .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
      val (_, nRes, nHits, nEx, recall) = rows(b.toLong)
      assert(nRes == s3.size.toLong, s"budget $b: result count != s3(nprobe=$b)")
      assert(nHits == s3.count(exact.contains).toLong,
        s"budget $b: hits != replayed s1 intersection")
      assert(nEx == exact.size.toLong)
      assert(recall == nHits * 1000000L / nEx)
    }
    val ordered = Similarity.SweepBudgets.map(b => rows(b.toLong))
    assert(ordered.map(_._1) == ordered.map(_._1).sorted, "cost monotone")
    assert(ordered.map(_._3) == ordered.map(_._3).sorted,
      "hits monotone: a larger budget scans a superset of candidates")
    assert(ordered.last._3 > ordered.head._3 ||
      ordered.head._5 == 1000000L,
      "the sweep must show the dial doing something (or nprobe=1 is already perfect)")
    info(Similarity.SweepBudgets.map(b =>
      s"nprobe=$b recall=${rows(b.toLong)._5 / 10000.0}%").mkString(", "))
  }

  test("d18: the drop mask replays literally from d14's own runs — " +
    "interval union, first-occurrence keep side, token conservation") {
    val runs = operators.Dedup.d14SubstringDedup(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id_1"), r.getAs[Long]("doc_id_2"),
        r.getAs[Long]("start_2"), r.getAs[Long]("run_toks")))
    // literal interval union per DROP-side doc (the pair's GREATER id)
    val spansByDoc = runs.map { case (_, d2, s2, rt) => (d2, s2, s2 + rt - 1) }
      .distinct.groupBy(_._1).view.mapValues { ss =>
        val sorted = ss.map(s => (s._2, s._3)).sorted
        val merged = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        sorted.foreach { case (s, e) =>
          if (merged.nonEmpty && s <= merged.last._2)
            merged(merged.size - 1) = (merged.last._1, math.max(merged.last._2, e))
          else merged += ((s, e))
        }
        merged.toSeq
      }.toMap
    val nToks = Tables.load(spark, sf, "documents").select("doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        r.getString(1).trim.split("\\s+").count(_.nonEmpty).toLong).toMap
    val expected = spansByDoc.map { case (d, spans) =>
      val drop = spans.map { case (s, e) => e - s + 1 }.sum
      d -> (nToks(d), spans.size.toLong, drop, nToks(d) - drop,
        drop * 1000000L / nToks(d))
    }
    val got = operators.Dedup.d18DupSpans(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_toks"), r.getAs[Long]("n_spans"),
          r.getAs[Long]("drop_toks"), r.getAs[Long]("keep_toks"),
          r.getAs[Long]("drop_rate_e6"))).toMap
    assert(got == expected, "drop mask diverged from literal interval union")
    assert(got.nonEmpty, "the shipped corpus must exercise the shape")
    // keep-first: a doc that only ever appears as the pair's LOWER id
    // must NOT be masked
    val dropSide = runs.map(_._2).toSet
    val keepOnly = runs.map(_._1).toSet -- dropSide
    assert(keepOnly.forall(d => !got.contains(d)),
      "a first-occurrence doc lost tokens")
    assert(keepOnly.nonEmpty, "some doc must be pure first-occurrence")
    // overlap handling must matter somewhere, or the union is untested:
    // some doc has fewer merged spans than raw span entries
    val rawCounts = runs.map { case (_, d2, s2, rt) => (d2, s2, s2 + rt - 1) }
      .distinct.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    assert(got.exists { case (d, v) => v._2 < rawCounts(d) },
      "no overlapping spans merged anywhere — plant or corpus too clean")
  }

  test("model broadcasts are memoized and model-bounded: rebuilding a " +
    "plane-family plan mints NOTHING new, and a full k-means training " +
    "leaves at most its final model in the cache (iteration models are " +
    "released synchronously)") {
    import graft.functions.VectorFunctions
    // prime: first build may mint the plane-family broadcasts
    Similarity.s2AnnLsh(spark, sf)
    graft.operators.Dedup.d5DedupEmbed(spark, sf)
    val primed = VectorFunctions.cachedModelCount
    // rebuilding the same plans must reuse the SAME handles — the
    // planesFor memo keys the cache on one stable object per family
    Similarity.s2AnnLsh(spark, sf)
    Similarity.s2AnnLsh(spark, sf)
    graft.operators.Dedup.d5DedupEmbed(spark, sf)
    assert(VectorFunctions.cachedModelCount == primed,
      "rebuilding an unchanged plan minted new model broadcasts")
    // a training query mints per-iteration models but RELEASES each after
    // its one job collects: the cache may grow by the final model (and
    // its assignment reuse), never by the KmIters iteration matrices
    val n0 = VectorFunctions.cachedModelCount
    Similarity.s3AnnIvf(spark, sf)
    val grown = VectorFunctions.cachedModelCount - n0
    assert(grown <= 2,
      s"k-means left $grown cached models — Lloyd iterations leaked " +
        s"(KmIters=${Similarity.KmIters} unreleased would show here)")
  }

  test("s21: MRR and floored-harmonic nDCG replay brute force over the " +
    "s1/s2 outputs — per-probe first-hit ranks, dcg/idcg sums, edge " +
    "probes included") {
    val exact = Similarity.s1AnnBrute(spark, sf).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id")))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val short: Map[Long, Seq[(Long, Long)]] =
      Similarity.s2AnnLsh(spark, sf).collect()
        .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"),
          r.getAs[Number]("rank").longValue))
        .groupBy(_._1).view
        .mapValues(_.map(t => (t._3, t._2)).sortBy(_._1).toSeq).toMap
    def h(i: Long): Long = 1000000L / (i + 1)
    val expected = exact.map { case (p, truth) =>
      val ret = short.getOrElse(p, Seq.empty[(Long, Long)])
      val hits = ret.filter { case (_, n) => truth(n) }
      val frr = hits.map(_._1).minOption.getOrElse(0L)
      val dcg = hits.map { case (rk, _) => h(rk) }.sum
      val m = math.min(truth.size.toLong, Similarity.LshTopK.toLong)
      val idcg = (1L to m).map(h).sum
      p -> ((truth.size.toLong, ret.size.toLong, hits.size.toLong, frr,
        if (frr > 0) 1000000L / frr else 0L, dcg, idcg,
        if (idcg > 0) dcg * 1000000L / idcg else 0L))
    }
    val got = Similarity.s21RankMetrics(spark, sf).collect().map { r =>
      r.getAs[Long]("probe_id") -> (r.getAs[Long]("n_exact"),
        r.getAs[Long]("n_ret"), r.getAs[Long]("n_hit"),
        r.getAs[Long]("first_rel_rank"), r.getAs[Long]("mrr_e6"),
        r.getAs[Long]("dcg_e6"), r.getAs[Long]("idcg_e6"),
        r.getAs[Long]("ndcg_e6"))
    }.toMap
    assert(got == expected, "rank metrics diverged from the literal replay")
    assert(got.size == exact.size, "every probe with truth must report")
    // the metric must DISCRIMINATE on this corpus: not all probes perfect,
    // not all probes empty (else the rank weighting is untested)
    assert(got.values.exists(_._8 > 0L), "no probe scored — vacuous")
    assert(got.values.exists(v => v._8 < 1000000L),
      "every probe perfect — rank weighting unexercised")
    info(s"${got.size} probes; ndcg_e6 " +
      s"${got.values.map(_._8).min}-${got.values.map(_._8).max}")
  }

  test("s22: serpentine shard placement replays literally from the " +
    "operator's own cell grain — total-order ranks, boustrophedon deal, " +
    "load conservation across all three grains") {
    val rows = Similarity.s22ShardPlan(spark, sf).collect()
    val s = Similarity.NumShards
    val cells = rows.filter(_.getAs[String]("grain") == "cell")
      .map(r => (r.getAs[String]("key").toLong, r.getAs[Long]("rank"),
        r.getAs[Long]("shard"), r.getAs[Long]("n_vectors")))
    // ranks are the strict (size desc, cell asc) total order, 1..N
    assert(cells.map(_._2).sorted.toSeq == (1L to cells.length).toSeq)
    val byRank = cells.sortBy(_._2)
    byRank.sliding(2).foreach { case Array(a, b) =>
      assert(a._4 > b._4 || (a._4 == b._4 && a._1 < b._1),
        s"rank order broken between cells ${a._1} and ${b._1}")
    case _ => ()
    }
    // the serpentine deal: round r left-to-right when even, reversed odd
    byRank.foreach { case (cell, rank, shard, _) =>
      val r0 = rank - 1
      val expected =
        if ((r0 / s) % 2 == 0) r0 % s else s - 1 - (r0 % s)
      assert(shard == expected, s"cell $cell rank $rank -> shard $shard")
    }
    // shard grain: conservation and the decimal hotness render
    val shards = rows.filter(_.getAs[String]("grain") == "shard")
      .map(r => r.getAs[Long]("shard") ->
        (r.getAs[Long]("n_cells"), r.getAs[Long]("n_vectors"),
          r.getAs[Long]("skew_e6"))).toMap
    val total = cells.map(_._4).sum
    assert(shards.keySet == (0L until s).toSet, "a shard got no cells")
    shards.foreach { case (k, (nc, nv, skew)) =>
      val mine = cells.filter(_._3 == k)
      assert(nc == mine.length && nv == mine.map(_._4).sum, s"shard $k load")
      assert(skew == nv * s * 1000000L / total, s"shard $k skew render")
    }
    val tot = rows.find(_.getAs[String]("grain") == "total").get
    assert(tot.getAs[Long]("n_vectors") == total &&
      tot.getAs[Long]("n_cells") == cells.length &&
      tot.getAs[Long]("skew_e6") == shards.values.map(_._3).max)
    // the deal balances: no shard carries more than ceil(N/S) cells
    assert(shards.values.map(_._1).max <=
      (cells.length + s - 1) / s, "serpentine gave a shard extra cells")
    info(s"${cells.length} cells over $s shards; hottest " +
      s"${tot.getAs[Long]("skew_e6")} e6 (1e6 = balanced)")
  }

  test("s23: routing fan-out foots across all three grains, every probe " +
    "routes to exactly its nprobe cells, and the touched-cell counts " +
    "never exceed s22's resident placement") {
    val rows = Similarity.s23RouteFanout(spark, sf).collect()
    val probes = rows.filter(_.getAs[String]("grain") == "probe")
    val shards = rows.filter(_.getAs[String]("grain") == "shard")
    val tot = rows.find(_.getAs[String]("grain") == "total").get
    val s = Similarity.NumShards
    val nprobe = math.min(Similarity.RouteNprobe, Similarity.NumCells).toLong
    assert(probes.length == Similarity.NumProbes, "a probe lost its row")
    probes.foreach { r =>
      val nc = r.getAs[Long]("n_cells")
      val ns = r.getAs[Long]("n_shards")
      assert(nc == nprobe && r.getAs[Long]("hits") == nprobe,
        s"probe ${r.getAs[String]("key")} cells")
      assert(ns >= 1 && ns <= math.min(nc, s),
        s"probe ${r.getAs[String]("key")} fanout $ns")
      assert(r.getAs[Long]("fanout_e6") == ns * 1000000L)
    }
    // conservation: every (probe, cell) read lands on exactly one shard
    val hitsP = probes.map(_.getAs[Long]("hits")).sum
    assert(shards.map(_.getAs[Long]("hits")).sum == hitsP, "shard hits")
    assert(tot.getAs[Long]("hits") == hitsP, "~TOTAL hits")
    // load shares are floored fractions of one million
    val shareSum = shards.map(_.getAs[Long]("fanout_e6")).sum
    assert(shareSum <= 1000000L && shareSum > 1000000L - shards.length,
      s"shard load shares sum to $shareSum")
    // a shard can only serve cells s22 actually placed on it
    val resident = Similarity.s22ShardPlan(spark, sf).collect()
      .filter(_.getAs[String]("grain") == "cell")
      .groupBy(_.getAs[Long]("shard"))
      .map { case (k, xs) => k -> xs.length.toLong }
    shards.foreach { r =>
      val k = r.getAs[Long]("shard")
      assert(resident.contains(k) && r.getAs[Long]("n_cells") <= resident(k),
        s"shard $k touched more cells than it holds")
      assert(r.getAs[Long]("n_probes") <= Similarity.NumProbes.toLong)
    }
    // the mean fan-out render is the exact floored integer mean
    assert(tot.getAs[Long]("fanout_e6") ==
      probes.map(_.getAs[Long]("n_shards")).sum * 1000000L / probes.length)
    info(s"${probes.length} probes, fan-out " +
      s"${probes.map(_.getAs[Long]("n_shards")).min}-" +
      s"${probes.map(_.getAs[Long]("n_shards")).max} of $s shards, " +
      s"mean ${tot.getAs[Long]("fanout_e6")} e6")
  }

  test("d19: cross-split leakage replays from d3's confirmed pairs — " +
    "split tagging, train-end normalization, worst-offender pick, " +
    "rollups — and the audit is non-vacuous with correct split tags") {
    val rows = Dedup.d19SplitLeakage(spark, sf).collect()
    // independent replay: d3's pair list (itself d2-cross-checked above)
    // tagged with the t5 split rule in plain Scala
    def bucket(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16) % 100
    }
    def split(id: Long): String = {
      val b = bucket(id)
      if (b < 80) "train" else if (b < 90) "val" else "test"
    }
    val pairs = Dedup.d3DedupMinhash(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id_1"), r.getAs[Long]("doc_id_2"),
        r.getAs[Long]("jaccard_e6")))
    val leaks = pairs.flatMap { case (a, b, j) =>
      (split(a), split(b)) match {
        case ("train", s) if s != "train" => Some((a, b, s, j))
        case (s, "train") if s != "train" => Some((b, a, s, j))
        case _ => None
      }
    }
    val expect = leaks.groupBy(l => (l._2, l._3)).map { case ((e, s), xs) =>
      val worstJ = xs.map(_._4).max
      e.toString -> (s, xs.length.toLong,
        xs.filter(_._4 == worstJ).map(_._1).min, worstJ)
    }
    val perDoc = rows.filter(r => !r.getAs[String]("key").startsWith("~"))
      .map(r => r.getAs[String]("key") -> r).toMap
    assert(perDoc.keySet == expect.keySet, "contaminated eval set diverged")
    expect.foreach { case (key, (s, n, worstD, worstJ)) =>
      val r = perDoc(key)
      assert(r.getAs[String]("split") == s &&
        r.getAs[Long]("n_train_dups") == n &&
        r.getAs[Long]("worst_train_doc") == worstD &&
        r.getAs[Long]("worst_jac_e6") == worstJ, s"eval doc $key")
      // tag sanity: the eval end really is eval, the offender really train
      assert(split(key.toLong) == s, s"eval $key tagged $s")
      assert(split(worstD) == "train", s"offender $worstD not train")
    }
    // the audit finds something on the shipped corpus (hash splits
    // straddle dup clusters at base rates — zero would mean the filter
    // or the tagging is broken, not that the corpus is clean)
    assert(expect.nonEmpty, "no cross-split leakage found — vacuous")
    val tot = rows.find(_.getAs[String]("key") == "~TOTAL").get
    assert(tot.getAs[Long]("n_docs") == expect.size.toLong &&
      tot.getAs[Long]("n_train_dups") == leaks.length.toLong,
      "~TOTAL does not foot to the pair replay")
    // train-train and val-test pairs are NOT leakage rows
    val within = pairs.count { case (a, b, _) =>
      (split(a) == "train") == (split(b) == "train")
    }
    assert(expect.values.map(_._2).sum + within == pairs.length,
      "pair partition leaked or double-counted")
    info(s"${expect.size} contaminated eval docs from ${leaks.length} " +
      s"cross-split pairs (of ${pairs.length} dup pairs total)")
  }

  test("d20: the sharded bloom replays bit-for-bit in Scala — every " +
    "verdict matched, NO false negatives ever, totals conserved") {
    import java.security.MessageDigest
    def md5Long60(s: String): Long = {
      val hex = MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    def norm(t: String): String =
      t.replaceAll("\\s+", " ").trim.toLowerCase
    val docs = Tables.load(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), md5Long60(norm(r.getString(1)))))
    def isNew(id: Long): Boolean = md5Long60(id.toString) % 100 >= Dedup.NewBucketMin
    val corpus = docs.filterNot(d => isNew(d._1))
    val batch = docs.filter(d => isNew(d._1))
    // build the blooms exactly as the plan does
    val words = scala.collection.mutable.Map.empty[(Long, Long), Long]
    def positions(h: Long): Seq[Long] =
      (0 until Dedup.D20Hashes).map(i =>
        math.floorMod(md5Long60(s"d20|$i|$h"), Dedup.D20Bits))
    for ((_, h) <- corpus; pos <- positions(h)) {
      val key = (math.floorMod(h, Dedup.D20Shards), pos / Dedup.D20WordBits)
      words(key) = words.getOrElse(key, 0L) |
        (1L << (pos % Dedup.D20WordBits).toInt)
    }
    val corpusHashes = corpus.map(_._2).toSet
    val expected = batch.map { case (id, h) =>
      val shard = math.floorMod(h, Dedup.D20Shards)
      val admitted = positions(h).forall { pos =>
        (words.getOrElse((shard, pos / Dedup.D20WordBits), 0L) &
          (1L << (pos % Dedup.D20WordBits).toInt)) != 0L
      }
      val dup = corpusHashes.contains(h)
      (id.toString, shard, if (admitted) 1L else 0L, if (dup) 1L else 0L)
    }.sortBy(_._1).toSeq
    val rows = Dedup.d20BloomPrefilter(spark, sf).collect()
    val per = rows.filter(_.getAs[String]("key") != "~TOTAL")
      .map(r => (r.getAs[String]("key"), r.getAs[Long]("shard"),
        r.getAs[Long]("admitted"), r.getAs[Long]("truly_dup")))
      .sortBy(_._1).toSeq
    assert(per == expected, "bloom verdicts diverged from the bit replay")
    // the bloom's contract: a true dup is ALWAYS admitted
    assert(per.forall(r => r._4 == 0L || r._3 == 1L), "FALSE NEGATIVE")
    val tot = rows.find(_.getAs[String]("key") == "~TOTAL").get
    assert(tot.getAs[Long]("admitted") == per.map(_._3).sum &&
      tot.getAs[Long]("truly_dup") == per.map(_._4).sum,
      "total row does not conserve the per-doc columns")
    assert(tot.getAs[Long]("false_pos") ==
      per.count(r => r._3 == 1L && r._4 == 0L))
    assert(tot.getAs[Long]("fp_rate_e6") ==
      tot.getAs[Long]("false_pos") * 1000000L / per.size)
    info(s"${per.size} probes, ${tot.getAs[Long]("admitted")} admitted, " +
      s"${tot.getAs[Long]("false_pos")} false positives " +
      s"(${tot.getAs[Long]("fp_rate_e6")}e6)")
  }

  test("s24: the frontier replays a literal dominance + marginal pass " +
    "over the s20 sweep it rides") {
    val sweep = Similarity.s20NprobeSweep(spark, sf).collect()
      .map(r => (r.getAs[Long]("nprobe"), r.getAs[Long]("n_candidates"),
        r.getAs[Long]("recall_e6"))).sortBy(_._1)
    val got = Similarity.s24TuningFrontier(spark, sf).collect()
      .map(r => (r.getAs[Long]("nprobe"), r.getAs[Long]("n_candidates"),
        r.getAs[Long]("recall_e6"), r.getAs[Long]("is_pareto"),
        r.getAs[Long]("marg_candidates"), r.getAs[Long]("marg_recall_e6"),
        r.getAs[Long]("marg_eff_e6"))).sortBy(_._1)
    assert(got.map(g => (g._1, g._2, g._3)).toSeq == sweep.toSeq,
      "the frontier must carry the sweep's own rows verbatim")
    got.zipWithIndex.foreach { case ((np, cand, rec, pareto, mc, mr, eff), i) =>
      // literal quadratic dominance test
      val dominated = sweep.exists { case (_, c2, r2) =>
        r2 >= rec && c2 <= cand && (r2 > rec || c2 < cand) }
      assert(pareto == (if (dominated) 0L else 1L), s"pareto flag at $np")
      val (pc, pr) = if (i == 0) (0L, 0L) else (sweep(i - 1)._2, sweep(i - 1)._3)
      assert(mc == cand - pc && mr == rec - pr, s"marginals at $np")
      assert(eff == mr * 1000000L / math.max(mc, 1L), s"marginal price at $np")
    }
    // a monotone-recall sweep's frontier keeps every strictly-cheaper-
    // and-weaker prefix point; at minimum the cheapest config survives
    assert(got.exists(_._4 == 1L), "empty Pareto set is impossible")
    // the sweep grows candidates with nprobe, so marginal costs are
    // positive past the first row — the knee statistic is well-defined
    assert(got.tail.forall(_._5 >= 0L), "candidate count shrank with nprobe")
    info(got.map(g => s"np${g._1}:${g._3}e6@${g._2}c " +
      s"${if (g._4 == 1) "PARETO" else "dom"} eff=${g._7}").mkString(" "))
  }

  test("d24: the df profile replays a literal shingle df histogram — log2 " +
    "bins, exact pair volumes, conserving shares and ~TOTAL") {
    // literal shingle df: distinct word-3-shingles per doc, counted
    val dfreq = Tables.load(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .flatMap { r =>
        val toks = r.getString(1).trim.split("\\s+").filter(_.nonEmpty)
        toks.sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSet
      }
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val expect = dfreq.values.groupBy(df => 64 - java.lang.Long
      .numberOfLeadingZeros(df)).map { case (bin, dfs) =>
      bin.toLong -> (dfs.size.toLong, dfs.sum,
        dfs.map(df => BigInt(df) * (df - 1) / 2).sum)
    }
    val all = Dedup.d24DfProfile(spark, sf).collect()
    val (totRow, perRows) = all.partition(_.getAs[String]("key") == "~TOTAL")
    val got = perRows.map(r => r.getAs[Long]("fbin") ->
      (r.getAs[Long]("n_shingles"), r.getAs[Long]("n_postings"),
        BigInt(r.getAs[String]("cand_pairs")))).toMap
    assert(got == expect, "df histogram diverged from the literal replay")
    val (totPost, totPairs) = (expect.values.map(_._2).sum,
      expect.values.map(_._3).sum)
    perRows.foreach { r =>
      val e = expect(r.getAs[Long]("fbin"))
      assert(r.getAs[Long]("posting_share_e6") ==
        e._2 * 1000000L / math.max(totPost, 1L), s"posting share at $r")
      assert(BigInt(r.getAs[Long]("pair_share_e6")) ==
        e._3 * 1000000 / totPairs.max(BigInt(1)), s"pair share at $r")
    }
    assert(totRow.length == 1 &&
      totRow.head.getAs[Long]("n_shingles") == expect.values.map(_._1).sum &&
      totRow.head.getAs[Long]("n_postings") == totPost &&
      BigInt(totRow.head.getAs[String]("cand_pairs")) == totPairs,
      "~TOTAL must conserve the per-bucket sums")
    assert(expect.size >= 3, "the corpus must span several df buckets")
    assert(expect.contains(1L) && expect(1L)._3 == BigInt(0),
      "the df=1 bucket generates zero candidate pairs by construction")
    info(expect.toSeq.sortBy(_._1).map { case (b, (s, p, c)) =>
      s"2^$b: $s shingles $p postings $c pairs" }.mkString(" "))
  }

  test("d23: the banding sweep's deployed config matches d3's own candidate " +
    "machinery, the theory literals are exact rationals, and the sweep " +
    "is monotone") {
    val rows = Dedup.d23BandingSweep(spark, sf).collect()
      .map(r => (r.getAs[Long]("bands"), r.getAs[Long]("rows_per_band"),
        r.getAs[Long]("n_candidates"), r.getAs[Long]("n_hits"),
        r.getAs[Long]("n_true_pairs"), r.getAs[Long]("recall_e6"),
        r.getAs[Long]("precision_e6"), r.getAs[Long]("theory_e6")))
      .sortBy(_._2)
    assert(rows.map(r => (r._1.toInt, r._2.toInt)).toSeq ==
      Dedup.D23Configs.sortBy(_._2), "config grid diverged")
    // theory literals replay the exact rational fold
    def theory(b: Int, r: Int): Long = {
      val (n, d) = (BigInt(Dedup.TauNum), BigInt(Dedup.TauDen))
      val miss = (d.pow(r) - n.pow(r)).pow(b)
      ((d.pow(r * b) - miss) * BigInt(1000000) / d.pow(r * b)).toLong
    }
    rows.foreach(r => assert(r._8 == theory(r._1.toInt, r._2.toInt),
      s"theory at ${r._1}x${r._2}"))
    // the deployed (4x2) row IS d3's banding: its candidate count must
    // equal the d3 candidate machinery's own pair count (same bands)
    val d3pairs = Dedup.d3DedupMinhash(spark, sf).collect()
    val deployed = rows.find(r => r._1 == 4L && r._2 == 2L).get
    assert(deployed._4 == d3pairs.length.toLong,
      "the 4x2 hits must equal d3's confirmed pair count (recall there " +
        "is what d3 ships)")
    // coarser bands only ADD candidate opportunities: candidates and
    // recall are monotone non-increasing as rows_per_band grows
    assert(rows.map(_._3).sameElements(rows.map(_._3).sorted.reverse),
      "candidates must shrink as banding tightens")
    assert(rows.map(_._6).sameElements(rows.map(_._6).sorted.reverse),
      "recall must shrink as banding tightens")
    // both regimes: some config misses truth, some config over-generates
    assert(rows.exists(_._6 < 1000000L) && rows.exists(r => r._3 > r._4),
      "sweep must show both the recall loss and the precision loss end")
    info(rows.map(r => s"${r._1}x${r._2}: cand=${r._3} recall=${r._6}e6 " +
      s"prec=${r._7}e6 theory=${r._8}e6").mkString(" "))
  }

  test("d22: the keeper-policy audit replays both elections literally from " +
    "d6's clusters and t2's scores, and both regimes occur") {
    val clusters = Dedup.d6DedupClusters(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id"))
    val q = graft.operators.TextAnalysis.t2TextQuality(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("quality_score_e6"))
      .toMap
    val expect = clusters.groupBy(_._2).map { case (cid, ms) =>
      val members = ms.map(_._1)
      val qMin = q(cid) // the min-id keeper IS the cluster label
      val best = members.map(d => (q(d), -d)).max
      val keeperQ = -best._2
      cid.toString -> (members.size.toLong,
        if (keeperQ != cid) 1L else 0L, cid, keeperQ, qMin, best._1,
        best._1 - qMin)
    }
    val all = Dedup.d22KeeperPolicy(spark, sf).collect()
    val (totRow, perRows) = all.partition(_.getAs[String]("key") == "~TOTAL")
    val got = perRows.map(r => r.getAs[String]("key") ->
      (r.getAs[Long]("n_members"), r.getAs[Long]("changed"),
        r.getAs[Long]("keeper_minid"), r.getAs[Long]("keeper_quality"),
        r.getAs[Long]("q_minid_e6"), r.getAs[Long]("q_best_e6"),
        r.getAs[Long]("delta_e6"))).toMap
    assert(got == expect, "elections diverged from the literal replay")
    assert(totRow.length == 1)
    val t = totRow.head
    assert(t.getAs[Long]("n_members") == expect.values.map(_._1).sum &&
      t.getAs[Long]("changed") == expect.values.map(_._2).sum &&
      t.getAs[Long]("delta_e6") == expect.values.map(_._7).sum,
      "~TOTAL must conserve the per-cluster sums")
    // the quality keeper must actually differ somewhere AND agree somewhere,
    // or the audit's CASE arms are dead code on this corpus
    assert(expect.values.exists(_._2 == 1L) && expect.values.exists(_._2 == 0L),
      "corpus must exercise both the changed and the unchanged regime")
    // quality election never loses to min-id
    assert(expect.values.forall(_._7 >= 0L), "delta_e6 must be >= 0")
    info(s"${expect.size} clusters, ${expect.values.map(_._2).sum} changed, " +
      s"total delta ${expect.values.map(_._7).sum}e6")
  }

  test("s25: the rebalance plan replays literal cap/split arithmetic over " +
    "the same cell sizes s22 places, and both regimes occur") {
    val sizes = Similarity.s22ShardPlan(spark, sf).collect()
      .filter(_.getAs[String]("grain") == "cell")
      .map(r => r.getAs[String]("key").toLong -> r.getAs[Long]("n_vectors"))
      .toMap
    val (n, k) = (sizes.values.sum, sizes.size.toLong)
    val cap = (Similarity.RebalanceCapNum * n + Similarity.RebalanceCapDen * k
      - 1L) / (Similarity.RebalanceCapDen * k)
    val expect = sizes.map { case (cell, m) =>
      val over = m > cap
      val sub = if (over) (m + cap - 1L) / cap else 1L
      cell.toString -> (m, if (over) 1L else 0L, sub, (m + sub - 1L) / sub,
        m * k * 1000000L / n)
    }
    val all = Similarity.s25CellRebalance(spark, sf).collect()
    val (totRow, perRows) = all.partition(_.getAs[String]("key") == "~TOTAL")
    val got = perRows.map(r => r.getAs[String]("key") ->
      (r.getAs[Long]("n_members"), r.getAs[Long]("overfull"),
        r.getAs[Long]("n_subcells"), r.getAs[Long]("post_members"),
        r.getAs[Long]("skew_e6"))).toMap
    assert(got == expect, "rebalance plan diverged from the literal replay")
    assert(totRow.length == 1)
    val t = totRow.head
    val after = expect.values.map(_._3).sum
    val postMax = expect.values.map(_._4).max
    assert(t.getAs[Long]("n_members") == n &&
      t.getAs[Long]("overfull") == expect.values.map(_._2).sum &&
      t.getAs[Long]("n_subcells") == after &&
      t.getAs[Long]("post_members") == postMax &&
      t.getAs[Long]("skew_e6") == postMax * after * 1000000L / n,
      "~TOTAL must conserve and restate the per-cell arithmetic")
    assert(expect.values.exists(_._2 == 1L) && expect.values.exists(_._2 == 0L),
      "the corpus must exercise both the split and the keep regime")
    // splitting must actually improve the planned max cell size
    assert(postMax < sizes.values.max,
      "post-split max must shrink below the pre-split max")
    info(s"$k cells, ${expect.values.map(_._2).sum} overfull at cap $cap -> " +
      s"$after cells, max ${sizes.values.max} -> $postMax, " +
      s"imbalance ${t.getAs[Long]("skew_e6")}e6")
  }

  test("d21: cross-language dup audit is exactly d2's pairs gated to " +
    "differing lang labels, with t3's prediction adjudicating each side") {
    val pairs = Dedup.d2DedupNgram(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id_1"), r.getAs[Long]("doc_id_2"),
        r.getAs[Long]("jaccard_e6")))
    val t3 = graft.operators.TextAnalysis.t3LangId(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("labeled_lang"), r.getAs[String]("predicted_lang")))
      .toMap
    val expected = pairs.flatMap { case (a, b, j) =>
      val ((l1, p1), (l2, p2)) = (t3(a), t3(b))
      if (l1 == l2) None else Some((a, b) -> {
        val verdict =
          if (p1 == l1 && p2 == l2) "cross_lingual"
          else if (p1 != l1 && p2 == l2) "mislabel_1"
          else if (p1 == l1 && p2 != l2) "mislabel_2"
          else "both_mislabeled"
        (l1, l2, p1, p2, j, verdict)
      })
    }.toMap
    val got = Dedup.d21CrosslangDups(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id_1"), r.getAs[Long]("doc_id_2")) ->
        (r.getAs[String]("lang_1"), r.getAs[String]("lang_2"),
          r.getAs[String]("pred_1"), r.getAs[String]("pred_2"),
          r.getAs[Long]("jaccard_e6"), r.getAs[String]("verdict"))).toMap
    assert(got == expected, "audit diverged from the d2 x t3 replay")
    assert(got.nonEmpty, "the shipped corpus must exercise the shape")
    // the corpus ships lang-tag noise: mislabels must actually appear,
    // in more than one class — otherwise the CASE arms are dead code
    val verdicts = got.values.map(_._6).toSet
    assert(verdicts.exists(_.startsWith("mislabel")) && verdicts.size >= 2,
      s"expected multiple verdict regimes, got $verdicts")
    info(s"${got.size} cross-lang dup pairs over ${pairs.length} total; " +
      got.values.groupBy(_._6).view.mapValues(_.size).toMap.toSeq
        .sortBy(_._1).mkString(" "))
  }

  test("d25: the dedup-epoch audit replays literally — singleton " +
    "closure, min-id keepers, per-source mass, e6 shares — and the " +
    "corpus multiplier exceeds 1e6") {
    def toks(s: String): Long = {
      val t = s.replaceAll("^\\s+|\\s+$", "")
      (if (t.isEmpty) 0 else t.split("\\s+").length).toLong
    }
    val docs = Tables.load(spark, sf, "documents")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        toks(r.getAs[String]("text"))))
    val cl = operators.Dedup.d6DedupClusters(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    val member = docs.map { case (id, src, n) =>
      (id, src, n, cl.getOrElse(id, id)) }
    val keeper = member.groupBy(_._4).map { case (c, g) =>
      c -> g.map(_._1).min }
    val expect = member.groupBy(_._2).map { case (src, g) =>
      val nTok = g.map(_._3).sum
      val kept = g.filter(m => keeper(m._4) == m._1)
      val keptTok = kept.map(_._3).sum
      val dropTok = nTok - keptTok
      src -> ((g.size.toLong, nTok, kept.size.toLong, keptTok, dropTok,
        dropTok * 1000000L / math.max(nTok, 1L),
        if (keptTok > 0) nTok * 1000000L / keptTok else -1L))
    }
    val tot = {
      val nTok = docs.map(_._3).sum
      val keptTok = member.filter(m => keeper(m._4) == m._1).map(_._3).sum
      ((docs.length.toLong, nTok,
        member.count(m => keeper(m._4) == m._1).toLong, keptTok,
        nTok - keptTok, (nTok - keptTok) * 1000000L / math.max(nTok, 1L),
        if (keptTok > 0) nTok * 1000000L / keptTok else -1L))
    }
    val got = operators.Dedup.d25DedupEpochs(spark, sf).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("n_keepers"), r.getAs[Long]("tokens_kept"),
          r.getAs[Long]("tokens_dropped"), r.getAs[Long]("drop_share_e6"),
          r.getAs[Long]("epochs_e6")))).toMap
    assert(got == (expect + ("~TOTAL" -> tot)),
      "epoch audit diverged from the literal replay")
    // the audit earns its keep: dedup drops mass somewhere, so the
    // corpus epoch multiplier strictly exceeds 1e6, and at least one
    // source keeps everything it has while another loses mass
    assert(tot._7 > 1000000L, "no duplication at all — d6 found nothing")
    assert(expect.values.exists(_._5 > 0L), "no source lost mass")
    assert(expect.values.exists(v => v._5 == 0L && v._2 > 0L) ||
      expect.values.count(_._5 > 0L) >= 2,
      "drop mass must differentiate sources")
    info(s"corpus epochs_e6 ${tot._7}; per-source drops " +
      expect.view.mapValues(_._5).toMap.toString)
  }

  test("s27: HNSW recall replays — exact top-k truth brute-forced in " +
    "Scala, hits counted against the engine's own descent, recall " +
    "bounded and non-vacuous") {
    import operators.Similarity.{BeamTopK, NumProbes, TopK}
    val vecs = Tables.load(spark, sf, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val probes = vecs.keys.filter(_ < NumProbes).toSeq.sorted
    val exact = probes.map { p =>
      p -> vecs.keys.filter(_ != p).toSeq
        .map(id => (id, cos(vecs(p), vecs(id))))
        .sortBy { case (id, s) => (-s, id) }.take(TopK).map(_._1).toSet
    }.toMap
    val approx = operators.Similarity.s26HnswLayers(spark, sf).collect()
      .map(r => r.getAs[Long]("probe_id") -> r.getAs[Long]("neighbor_id"))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val expect = probes.map { p =>
      val ap = approx.getOrElse(p, Set.empty)
      val hit = (exact(p) & ap).size.toLong
      p -> ((exact(p).size.toLong, ap.size.toLong, hit,
        math.floor(hit * 1000000.0 / exact(p).size).toLong))
    }.toMap
    val got = operators.Similarity.s27HnswRecall(spark, sf).collect()
      .map(r => r.getAs[Long]("probe_id") ->
        ((r.getAs[Long]("n_exact"), r.getAs[Long]("n_approx"),
          r.getAs[Long]("n_hit"), r.getAs[Long]("recall_e6")))).toMap
    assert(got == expect, "recall rows diverged from the replay")
    assert(got.keySet == probes.toSet, "every probe must be evaluated")
    got.values.foreach { case (ne, na, nh, r) =>
      assert(nh <= math.min(ne, na) && r >= 0L && r <= 1000000L)
      assert(na == BeamTopK.toLong, "the descent must report a full beam")
    }
    assert(got.values.map(_._4).sum > 0L,
      "zero recall everywhere — the descent finds nothing")
    info(s"mean recall_e6 ${got.values.map(_._4).sum / got.size}")
  }

  test("s28: the layered-graph insert replays literally in Scala AND " +
    "equals the from-scratch rebuild at every touched node — batch edges " +
    "displace stored edges somewhere, survive nowhere they shouldn't, " +
    "and untouched nodes never appear") {
    import operators.Similarity.KnnK
    def md5Long60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.map("%02x".format(_)).mkString.take(15), 16)
    }
    val ids = Tables.load(spark, sf, "embeddings")
      .select("vec_id").collect().map(_.getLong(0))
    val lvl = ids.map { id =>
      val h = md5Long60(id.toString)
      id -> (if (h % 16 == 0) 2 else if (h % 4 == 0) 1 else 0)
    }.toMap
    val isBatch = ids.map(id =>
      id -> (md5Long60(id.toString) % 100 >= operators.Dedup.NewBucketMin)).toMap
    assert(isBatch.values.exists(identity) && isBatch.values.exists(!_),
      "the md5 split must yield BOTH a batch and a corpus")
    val pairs = operators.Similarity.knnScoredPairs(spark, sf).collect()
      .map(r => (r.getAs[Long]("va"), r.getAs[Long]("vb"), r.getAs[Long]("cos_e6")))
    def topK(edges: Seq[(Long, Long, Long)]): Map[Long, Seq[(Long, Long)]] =
      edges.flatMap { case (a, b, c) => Seq((a, b, c), (b, a, c)) }
        .groupBy(_._1).view.mapValues(_.toSeq
          .sortBy { case (_, dst, c) => (-c, dst) }.take(KnnK)
          .map { case (_, dst, c) => (dst, c) }).toMap
    val expected = (0 to 2).flatMap { l =>
      val p = pairs.filter { case (a, b, _) => lvl(a) >= l && lvl(b) >= l }
      val rebuild = topK(p) // the from-scratch union graph
      val touched = p.filter { case (a, b, _) => isBatch(a) || isBatch(b) }
        .flatMap { case (a, b, _) => Seq(a, b) }.toSet
      touched.toSeq.flatMap { src =>
        rebuild(src).zipWithIndex.map { case ((dst, c), i) =>
          (l.toLong, src, i + 1L) -> ((dst, c, if (isBatch(src)) 1L else 0L))
        }
      }
    }.toMap
    val got = operators.Similarity.s28HnswInsert(spark, sf).collect()
      .map(r => (r.getAs[Long]("lvl"), r.getAs[Long]("vec_id"),
        r.getAs[Long]("rank")) -> ((r.getAs[Long]("neighbor_id"),
        r.getAs[Long]("cos_e6"), r.getAs[Long]("src_is_batch")))).toMap
    assert(got == expected,
      "incremental insert diverged from the from-scratch rebuild")
    // both merge arms occur at layer 0: a stored edge displaced by a
    // batch edge somewhere, and a touched corpus node left unchanged
    // elsewhere (its delta candidates all outranked)
    val storedL0 = topK(pairs.filter { case (a, b, _) => !isBatch(a) && !isBatch(b) })
    val corpusTouchedL0 = got.keys.collect {
      case (0L, src, _) if !isBatch(src) => src }.toSet
    assert(corpusTouchedL0.nonEmpty, "no corpus node was touched by the batch")
    def newList(src: Long): Seq[Long] = (1L to KnnK.toLong).flatMap(r =>
      got.get((0L, src, r)).map(_._1))
    val changed = corpusTouchedL0.filter(src =>
      newList(src) != storedL0.getOrElse(src, Seq.empty).map(_._1))
    assert(changed.nonEmpty,
      "no batch edge displaced a stored edge — the merge arm is vacuous")
    assert((corpusTouchedL0 -- changed).nonEmpty,
      "every touched node changed — the keep arm is vacuous")
    // the upper layers are populated and batch rows exist there
    assert(got.keys.exists { case (l, src, _) => l >= 1L && isBatch(src) },
      "no batch vector drew an upper level — the layer draw is vacuous")
    info(s"touched corpus nodes L0: ${corpusTouchedL0.size}, " +
      s"changed: ${changed.size}, rows: ${got.size}")
  }

  test("s29: tombstone delete replays literally — affected set, repair " +
    "class split, and BOTH repair paths equal the survivor rebuild; " +
    "spares dominate, relinks occur, untouched and dead nodes never " +
    "appear") {
    import operators.Similarity.{KnnK, HnswSpareK}
    val Kp = KnnK + HnswSpareK
    def md5Long60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.map("%02x".format(_)).mkString.take(15), 16)
    }
    val ids = Tables.load(spark, sf, "embeddings")
      .select("vec_id").collect().map(_.getLong(0))
    val lvl = ids.map { id =>
      val h = md5Long60(id.toString)
      id -> (if (h % 16 == 0) 2 else if (h % 4 == 0) 1 else 0)
    }.toMap
    val dead = ids.map(id =>
      id -> (md5Long60(id.toString) % 100 >= operators.Dedup.NewBucketMin)).toMap
    val pairs = operators.Similarity.knnScoredPairs(spark, sf).collect()
      .map(r => (r.getAs[Long]("va"), r.getAs[Long]("vb"), r.getAs[Long]("cos_e6")))
    val expected = (0 to 2).flatMap { l =>
      val mirrored = pairs
        .filter { case (a, b, _) => lvl(a) >= l && lvl(b) >= l }
        .flatMap { case (a, b, c) => Seq((a, b, c), (b, a, c)) }
        .groupBy(_._1).view
        .mapValues(_.toSeq.sortBy { case (_, d, c) => (-c, d) }).toMap
      mirrored.toSeq.filter { case (src, _) => !dead(src) }.flatMap {
        case (src, cands) =>
          val stored = cands.take(Kp)
          val delInK = stored.take(KnnK).count(e => dead(e._2))
          if (delInK == 0) Nil
          else {
            val aliveInKp = stored.count(e => !dead(e._2))
            val cls = if (aliveInKp >= KnnK || stored.size < Kp) "spare"
              else "relink"
            cands.filter(e => !dead(e._2)).take(KnnK).zipWithIndex.map {
              case ((_, dst, c), i) =>
                (l.toLong, src, i + 1L) -> ((dst, c, cls))
            }
          }
      }
    }.toMap
    val got = operators.Similarity.s29HnswDelete(spark, sf).collect()
      .map(r => (r.getAs[Long]("lvl"), r.getAs[Long]("vec_id"),
        r.getAs[Long]("rank")) -> ((r.getAs[Long]("neighbor_id"),
        r.getAs[Long]("cos_e6"), r.getAs[String]("repair_class")))).toMap
    assert(got == expected, "delete repair diverged from the survivor rebuild")
    val classes = got.values.map(_._3).toSet
    assert(classes == Set("spare", "relink"),
      s"both repair arms must occur, saw $classes")
    assert(got.values.count(_._3 == "spare") >
      got.values.count(_._3 == "relink") * 3,
      "the spare budget should make relinks the rare path")
    got.keys.foreach { case (_, src, _) =>
      assert(!dead(src), "a tombstoned node appeared in the repair output") }
    info(s"rows: ${got.size}, spare nodes: " +
      s"${got.filter(_._2._3 == "spare").keys.map(_._2).toSet.size}, relink: " +
      s"${got.filter(_._2._3 == "relink").keys.map(_._2).toSet.size}")
  }

  test("s30: the cascade replays literally — Hamming prefilter, integer " +
    "SQ8 re-rank, exact-cosine finals — and the funnel truth flags are " +
    "non-vacuous (the binary stage actually loses some exact neighbors)") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFunctions
    import operators.Similarity.{BinPlanes, CascadeK, CascadeStage1,
      CascadeStage2, Dim, NumProbes}
    val e = Tables.load(spark, sf, "embeddings")
    val pl = operators.Similarity.planesFor(BinPlanes)
    val sigs = e.select(col("vec_id"),
      VectorFunctions.hyperplaneBucket(col("embedding"), pl).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vecs = e.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    // SQ8 grid replayed in Scala doubles — the same (x−mn)·255/(mx−mn)
    // op order the plan's expression states
    val mins = Array.tabulate(Dim)(i => vecs.values.map(_(i).toDouble).min)
    val maxs = Array.tabulate(Dim)(i => vecs.values.map(_(i).toDouble).max)
    def codesOf(v: Array[Float]): Array[Long] = Array.tabulate(Dim) { i =>
      if (maxs(i) == mins(i)) 0L
      else math.min(255L, math.max(0L,
        math.floor((v(i).toDouble - mins(i)) * 255.0 / (maxs(i) - mins(i))).toLong))
    }
    val codes = vecs.map { case (id, v) => id -> codesOf(v) }
    // raw cosines from the engine's own fused expression, so the replay
    // shares its accumulation order bit-for-bit
    val pv = e.filter(col("vec_id") < NumProbes)
      .select(col("vec_id").as("p"), col("embedding").as("pe"))
    val cosMap = e.join(broadcast(pv), col("vec_id") =!= col("p"))
      .select(col("p"), col("vec_id"),
        VectorFunctions.cosineFast(col("pe"), col("embedding")).as("cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val truth = operators.Similarity.s1AnnBrute(spark, sf).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
    val expected = (0L until NumProbes.toLong).flatMap { p =>
      val st1 = vecs.keys.filter(_ != p).toSeq
        .map(v => (v, java.lang.Long.bitCount(sigs(v) ^ sigs(p)).toLong))
        .sortBy { case (v, h) => (h, v) }.take(CascadeStage1)
      val st2 = st1.map { case (v, h) =>
        val (pc, cc) = (codes(p), codes(v))
        val l2 = (0 until Dim).map(i => (pc(i) - cc(i)) * (pc(i) - cc(i))).sum
        (v, h, l2)
      }.sortBy { case (v, _, l2) => (l2, v) }.take(CascadeStage2)
      st2.map { case (v, h, l2) => (v, h, l2, cosMap((p, v))) }
        .sortBy { case (v, _, _, c) => (-c, v) }.take(CascadeK)
        .zipWithIndex.map { case ((v, h, l2, c), i) =>
          (p, i + 1L) -> ((v, h, l2, math.floor(c * 1000000.0).toLong,
            if (truth((p, v))) 1L else 0L))
        }
    }.toMap
    val got = operators.Similarity.s30CascadeRerank(spark, sf).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("rank")) ->
        ((r.getAs[Long]("neighbor_id"), r.getAs[Long]("hamming"),
          r.getAs[Long]("sq8_l2"), r.getAs[Long]("cos_e6"),
          r.getAs[Long]("in_exact")))).toMap
    assert(got == expected, "cascade diverged from the literal replay")
    assert(got.values.exists(_._5 == 0L),
      "every pick was exact — the funnel telemetry is vacuous here")
    assert(got.values.exists(_._5 == 1L), "the cascade recovered no truth")
    info(s"rows: ${got.size}, exact hits: ${got.values.count(_._5 == 1L)}")
  }

  test("d26: the semantic decontamination gate replays literally from " +
    "d5's banded pairs — verdicts, worst offenders, rollups — and both " +
    "the contaminated and clean arms are non-vacuous") {
    def md5Long60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.map("%02x".format(_)).mkString.take(15), 16)
    }
    def splitOf(id: Long): String = {
      val b = md5Long60(id.toString) % 100
      if (b < 80) "train" else if (b < 90) "val" else "test"
    }
    val pairs = Dedup.d5DedupEmbed(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_id_1"), r.getAs[Long]("vec_id_2"),
        r.getAs[Long]("cos_e6")))
    val lk = pairs.flatMap { case (a, b, c) =>
      val (sa, sb) = (splitOf(a), splitOf(b))
      if ((sa == "train") == (sb == "train")) None
      else if (sa == "train") Some((a, b, c)) else Some((b, a, c))
    }
    val evals = Tables.load(spark, sf, "embeddings")
      .select("vec_id").collect().map(_.getLong(0))
      .filter(splitOf(_) != "train")
    val perEval = evals.map { ev =>
      val mine = lk.filter(_._2 == ev)
      if (mine.isEmpty) ev.toString ->
        ((splitOf(ev), 1L, 0L, 0L, -1L, -1L, "clean"))
      else {
        val mx = mine.map(_._3).max
        val worst = mine.filter(_._3 == mx).map(_._1).min
        ev.toString ->
          ((splitOf(ev), 1L, 1L, mine.length.toLong, mx, worst, "contaminated"))
      }
    }.toMap
    def roll(split: String, rows: Iterable[(String, Long, Long, Long, Long, Long, String)])
        : (String, Long, Long, Long, Long, Long, String) =
      (split, rows.map(_._2).sum, rows.map(_._3).sum, rows.map(_._4).sum,
        rows.map(_._5).max, -1L, "~TOTAL")
    val expected = perEval ++
      perEval.values.groupBy(_._1).map { case (s, rows) =>
        s"~TOTAL_$s" -> roll(s, rows) } +
      ("~TOTAL" -> roll("~TOTAL", perEval.values))
    val got = Dedup.d26EmbedDecontam(spark, sf).collect()
      .map(r => r.getAs[String]("key") ->
        ((r.getAs[String]("split"), r.getAs[Long]("n_docs"),
          r.getAs[Long]("n_contam"), r.getAs[Long]("n_train_near"),
          r.getAs[Long]("max_cos_e6"), r.getAs[Long]("worst_train_doc"),
          r.getAs[String]("verdict")))).toMap
    assert(got == expected, "decontamination gate diverged from the replay")
    assert(got.values.exists(_._7 == "contaminated"),
      "no contaminated eval doc — the offender arm is vacuous")
    assert(got.values.exists(_._7 == "clean"),
      "no clean eval doc — the gate arm is vacuous")
    info(s"eval rows: ${evals.length}, contaminated: " +
      s"${got.values.count(_._7 == "contaminated")}")
  }
}
