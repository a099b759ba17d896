package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("exactKeep keeps exactly one row per key, the lowest tiebreak") {
    val df = Seq(("k1", 5L), ("k1", 2L), ("k2", 9L), ("k1", 7L)).toDF("k", "id")
    val kept = Dedup.exactKeep(df, Seq("k"), "id").orderBy("k")
      .as[(String, Long)].collect().toSeq
    assert(kept == Seq(("k1", 2L), ("k2", 9L)))
  }

  test("exactKeep is idempotent") {
    val df = spark.read.parquet(s"$Sf/documents.parquet")
      .withColumn("k", substring($"text", 1, 10))
    val once = Dedup.exactKeep(df, Seq("k"), "doc_id")
    val twice = Dedup.exactKeep(once, Seq("k"), "doc_id")
    assert(once.count() == twice.count())
    assert(once.select("doc_id").except(twice.select("doc_id")).count() == 0)
  }

  test("shingle/minhash/simhash survive documents with fewer than 3 tokens") {
    val df = Seq((1L, ""), (2L, "one"), (3L, "two words"), (4L, "exactly three tokens"), (5L, "a full length doc here"))
      .toDF("doc_id", "text")
    val sigs = Dedup.withMinhashSignature(df, "text").orderBy("doc_id")
      .select("doc_id", "sig0").as[(Long, Long)].collect().toSeq
    // short docs get the per-doc-unique sentinel, >=3 tokens real sigs
    assert(sigs.take(3).forall { case (id, s) => s == -id - 2 })
    assert(sigs.drop(3).forall(_._2 >= 0L))
    val sims = Dedup.simhash16(df, "text", "sh").select("doc_id", "sh").orderBy("doc_id")
      .as[(Long, Option[Long])].collect().toSeq
    assert(sims.take(3).forall(_._2.isEmpty)) // no shingles -> null sentinel sketch
    assert(sims.drop(3).forall(_._2.nonEmpty))
    assert(Dedup.ngramJaccardPairs(df, "doc_id", "text", 1L).count() >= 0)
    // short docs share the sentinel signature but must NOT pair up
    val pairs = Dedup.minhashPairs(Dedup.withMinhashSignature(df, "text"), "doc_id")
      .as[(Long, Long)].collect()
    assert(pairs.forall { case (a, b) => a > 3L && b > 3L || a != b },
      s"sentinel docs paired: ${pairs.toSeq}")
    assert(!pairs.exists { case (a, b) => a <= 3L || b <= 3L })
  }

  test("exactKeep tolerates map columns (unorderable types excluded from tiebreak)") {
    val df = Seq(("k1", 2L, Map("a" -> 1)), ("k1", 1L, Map("b" -> 2)), ("k2", 3L, Map.empty[String, Int]))
      .toDF("k", "id", "m")
    val kept = Dedup.exactKeep(df, Seq("k"), "id").orderBy("k")
      .select("k", "id").as[(String, Long)].collect().toSeq
    assert(kept == Seq(("k1", 1L), ("k2", 3L)))
  }

  test("signature kernels are bit-identical to the HOF formulations") {
    val staged = Dedup.withShingleHashes(spark.read.parquet(s"$Sf/documents.parquet"), "text")
    val diff = staged.select(
        Dedup.minhash(col(Dedup.ShinglesCol), col("doc_id"), 31L, 101L).as("fast"),
        Dedup.minhashHof(col(Dedup.ShinglesCol), col("doc_id"), 31L, 101L).as("ref"),
        org.apache.spark.sql.graft.SignatureKernels.simhash16(col(Dedup.ShinglesCol)).as("sfast"),
        Dedup.simhash16Hof(Dedup.ShinglesCol).as("sref"))
      .filter(!(col("fast") <=> col("ref")) || !(col("sfast") <=> col("sref")))
      .count()
    assert(diff == 0)
  }

  test("token-hash and shingle kernels are bit-identical to the SQL formulation") {
    // the SQL text IS the oracle's formulation (OracleSql mirrors it), so
    // kernel == SQL here plus the driver's DuckDB gate gives kernel ==
    // oracle transitively. Adversarial rows: empty text, 1/2-token docs
    // (empty-shingles guard), >8-char and multibyte tokens (codepoint
    // semantics, surrogate pair included), repeated separators.
    val docs = (spark.read.parquet(s"$Sf/documents.parquet").select("text") union
      Seq("", "one", "one two", "a b c", "longtokenoverflow12345 xé€ 😀cat tail",
        "x  y   z w", "é é é é").toDF("text")).cache()
    val sqlTokens = org.apache.spark.sql.functions.expr(
      s"transform(split(text, ' '), t -> CAST(${TextOps.tokenHashSql("t")} AS BIGINT))")
    val sqlShingles = org.apache.spark.sql.functions.expr(
      s"""CASE WHEN size(__ref_th) < 3 THEN CAST(array() AS ARRAY<BIGINT>)
         |ELSE transform(sequence(1, size(__ref_th) - 2),
         |  i -> (element_at(__ref_th, i) * 10007
         |      + element_at(__ref_th, i + 1) * 131
         |      + element_at(__ref_th, i + 2)) % ${Dedup.P}) END""".stripMargin)
    val sqlChunks = org.apache.spark.sql.functions.expr(
      s"""CASE WHEN size(__ref_th) < 8 THEN CAST(array() AS ARRAY<BIGINT>)
         |ELSE transform(sequence(1, size(__ref_th) div 8),
         |  c -> aggregate(slice(__ref_th, (c - 1) * 8 + 1, 8),
         |         CAST(0 AS BIGINT), (acc, x) -> (acc * 131 + x) % ${Dedup.P})) END""".stripMargin)
    val diff = docs
      .withColumn("__ref_th", sqlTokens)
      .withColumn("__fast_th", org.apache.spark.sql.graft.SignatureKernels.tokenHashes(
        split(col("text"), " "), Dedup.P))
      .withColumn("__ref_sh", sqlShingles)
      .withColumn("__fast_sh", org.apache.spark.sql.graft.SignatureKernels.shingleHashes3(
        col("__fast_th"), Dedup.P))
      .withColumn("__ref_ch", sqlChunks)
      .withColumn("__fast_ch", org.apache.spark.sql.graft.SignatureKernels.chunkHashes(
        col("__fast_th"), 8, Dedup.P))
      .filter(!(col("__ref_th") <=> col("__fast_th")) ||
        !(col("__ref_sh") <=> col("__fast_sh")) ||
        !(col("__ref_ch") <=> col("__fast_ch")))
      .count()
    assert(diff == 0)
  }

  test("minhash pairs are ordered and signature-consistent") {
    val sigs = Dedup.withMinhashSignature(spark.read.parquet(s"$Sf/documents.parquet"), "text")
    val pairs = Dedup.minhashPairs(sigs, "doc_id").as[(Long, Long)].collect()
    assert(pairs.forall { case (a, b) => a < b })
    // pairs must actually agree on the full signature
    val sigMap = sigs.select("doc_id", "sig0", "sig1", "sig2", "sig3")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    assert(pairs.forall { case (a, b) => sigMap(a) == sigMap(b) })
  }

  test("banded LSH pairs are a superset of full-signature pairs") {
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    val full = Dedup.minhashPairs(Dedup.withMinhashSignature(docs, "text"), "doc_id")
      .as[(Long, Long)].collect().toSet
    val banded = Dedup.minhashPairsBanded(Dedup.withBandKeys(docs, "text"), "doc_id", Int.MaxValue)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // full-signature agreement implies band-0 and band-1 agreement (same
    // seeds), so every single-band pair must reappear under OR-of-bands
    assert(full.subsetOf(banded), s"missing: ${(full -- banded).take(5)}")
    assert(banded.size >= full.size)
  }

  test("bucket cap bounds a mass-duplicated boilerplate group") {
    // 200 identical docs: every band bucket for the group has size 200
    val boiler = (0L until 200L).map(i => (i, "the same boilerplate text repeated across corpus"))
    val normal = Seq((1000L, "some genuinely unique document body one"),
                     (1001L, "another entirely different text body two"))
    val df = (boiler ++ normal).toDF("doc_id", "text")
    val banded = Dedup.withBandKeys(df, "text")
    // uncapped: the group alone is O(n²) = 19900 pairs
    val uncapped = Dedup.minhashPairsBanded(banded, "doc_id", Int.MaxValue).count()
    assert(uncapped >= 19900L)
    // capped at 10: every boilerplate bucket (size 200) is dropped whole,
    // so the quadratic group emits NOTHING and the job stays linear
    val capped = Dedup.minhashPairsBanded(banded, "doc_id", 10).count()
    assert(capped == 0L, s"capped pair count $capped")
  }

  test("short-doc sentinel never collides with real signatures, even for extreme ids") {
    // a negative doc id must not map the sentinel into [0, P); ids with
    // all low bits set (-1, Long.MaxValue) must not overflow -x-2 under
    // ANSI arithmetic
    val df = Seq((-5L, "x"), (-6L, "y"), (-1L, "z"), (Long.MaxValue, "w"),
        (7L, "full length document body here"))
      .toDF("doc_id", "text")
    val sigs = Dedup.withMinhashSignature(df, "text")
      .select("doc_id", "sig0").as[(Long, Long)].collect().toMap
    assert(Seq(-5L, -6L, -1L, Long.MaxValue).forall(id => sigs(id) < 0L))
    assert(sigs(-5L) != sigs(-6L))
    // the documented residual, pinned: ids differing ONLY in their top two
    // bits (-1 and Long.MaxValue mask to the same 62 bits) share a
    // sentinel and may spuriously pair; no other pair is allowed
    val residual = Set((-1L, Long.MaxValue))
    val pairs = Dedup.minhashPairs(Dedup.withMinhashSignature(df, "text"), "doc_id")
      .as[(Long, Long)].collect().toSet
    assert(pairs.subsetOf(residual), s"unexpected pairs: ${pairs -- residual}")
    val banded = Dedup.minhashPairsBanded(Dedup.withBandKeys(df, "text"), "doc_id")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(banded.subsetOf(residual), s"unexpected banded pairs: ${banded -- residual}")
  }

  test("shingle df-ceiling drops hot shingles and keeps the join linear") {
    // one shingle (alpha beta gamma) shared by all 50 docs; the other
    // shingles are per-doc unique (run-length tokens differ in the length
    // term of the token hash, so no accidental hash collisions)
    val df = (0 until 50).map(i => (i.toLong, s"alpha beta gamma ${"u" * (i + 1)} ${"v" * (i + 1)}"))
      .toDF("doc_id", "text")
    val uncapped = Dedup.ngramJaccardPairs(df, "doc_id", "text", 1L).count()
    assert(uncapped == 50L * 49L / 2L) // the hot shingle pairs everything
    val capped = Dedup.ngramJaccardPairs(df, "doc_id", "text", 1L, maxShingleDf = 10L).count()
    assert(capped == 0L, s"capped pair count $capped")
  }

  test("simhashPairs pigeonhole join equals brute-force Hamming comparison") {
    val docs = spark.read.parquet(s"$Sf/documents.parquet").filter($"doc_id" < 200)
    val got = Dedup.simhashPairs(docs, "text", "doc_id")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val sk = Dedup.simhash16(docs, "text", "sh").select("doc_id", "sh")
      .as[(Long, Long)].collect()
    val brute = (for {
      (a, sa) <- sk; (b, sb) <- sk
      if a < b && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (a, b)).toSet
    assert(got == brute, s"missing=${(brute -- got).take(3)} extra=${(got -- brute).take(3)}")
  }

  test("wide simhash pigeonhole join equals brute force and spreads buckets") {
    val docs = spark.read.parquet(s"$Sf/documents.parquet").filter($"doc_id" < 200)
    val got = Dedup.simhashPairsWide(docs, "text", "doc_id")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val sk = Dedup.simhashWide(docs, "text", "sh").select("doc_id", "sh")
      .as[(Long, Long)].collect()
    val brute = (for {
      (a, sa) <- sk; (b, sb) <- sk
      if a < b && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (a, b)).toSet
    assert(got == brute, s"missing=${(brute -- got).take(3)} extra=${(got -- brute).take(3)}")
    // sketches use all 60 bits and far fewer collisions than the 16-bit
    // sketch: the distinct-sketch count approaches the doc count
    assert(sk.forall { case (_, s) => s >= 0 && s < (1L << 60) })
    assert(sk.map(_._2).distinct.length > sk.length * 9 / 10)
  }

  test("connectedComponents converges on chains and assigns the min id") {
    // a 10-node chain (worst-case diameter) + a separate triangle + a pair
    val chain = (0L until 9L).map(i => (i, i + 1))
    val tri = Seq((100L, 101L), (101L, 102L), (100L, 102L))
    val pair = Seq((200L, 201L))
    val pairs = (chain ++ tri ++ pair).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    (0L to 9L).foreach(i => assert(got(i) == 0L, s"chain node $i"))
    Seq(100L, 101L, 102L).foreach(i => assert(got(i) == 100L))
    assert(got(200L) == 200L && got(201L) == 200L)
    // deterministic across partitionings
    val again = Dedup.connectedComponents(pairs.repartition(7), "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(got == again)
  }

  test("large-star/small-star CC equals min-label propagation on random graphs") {
    // deterministic pseudo-random edge lists across shapes: sparse, a long
    // chain (the propagation worst case the star variant exists for), and
    // a dense clique mixture
    val rnd = new scala.util.Random(42)
    val cases = Seq(
      (0L until 60L).map(i => (i, i + 1L)),                      // one 61-node chain
      Seq.fill(80)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong)).filter(p => p._1 != p._2),
      (for (i <- 0L until 10L; j <- i + 1 to 10L) yield (i, j)) ++ Seq((100L, 101L)))
    cases.zipWithIndex.foreach { case (es, ci) =>
      val pairs = es.toDF("id_a", "id_b")
      // propagation needs O(diameter) rounds on the chain; the star
      // variant stays at its default O(log n) budget — that asymmetry is
      // exactly what this operator exists for
      val prop = Dedup.connectedComponents(pairs, "id_a", "id_b", maxIterations = 80)
        .as[(Long, Long)].collect().toMap
      val star = Dedup.connectedComponentsStar(pairs, "id_a", "id_b")
        .as[(Long, Long)].collect().toMap
      assert(star == prop, s"case $ci: star=$star prop=$prop")
    }
    // fixture graph: identical clusters to the oracle-verified path
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    val cand = Dedup.minhashPairsBanded(Dedup.withBandKeys(docs, "text"), "doc_id", 50)
    val prop = Dedup.connectedComponents(cand, "id_a", "id_b").as[(Long, Long)].collect().toMap
    val star = Dedup.connectedComponentsStar(cand, "id_a", "id_b").as[(Long, Long)].collect().toMap
    assert(star == prop)
  }

  test("ngram jaccard is within (0,1] and symmetric-bounded") {
    val out = Dedup.ngramJaccardPairs(
      spark.read.parquet(s"$Sf/documents.parquet").filter($"doc_id" < 100),
      "doc_id", "text", 2L)
    val rows = out.select("jaccard").as[Double].collect()
    assert(rows.forall(j => j > 0.0 && j <= 1.0))
  }

  test("verifiedNearDupPairs is the jaccard-filtered subset of the banded candidates") {
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    val cand = Dedup.minhashPairsBanded(Dedup.withBandKeys(docs, "text"), "doc_id", 50)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val verified = Dedup.verifiedNearDupPairs(docs, "doc_id", "text", minJaccard = 0.0)
    val vSet = verified.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(vSet == cand, "at minJaccard 0 every candidate must survive verification")
    val rows = verified.select("n_common", "n_a", "n_b", "jaccard")
      .as[(Long, Long, Long, Double)].collect()
    assert(rows.forall { case (nc, na, nb, j) =>
      nc <= math.min(na, nb) && j > 0.0 == nc > 0 && j <= 1.0 })
    val strict = Dedup.verifiedNearDupPairs(docs, "doc_id", "text", minJaccard = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(strict.subsetOf(cand) && strict.size < cand.size)
  }

  test("chunkBoilerplate flags repeated chunks and guards short docs") {
    val eight = "w1 w2 w3 w4 w5 w6 w7 w8"
    val df = Seq(
      (1L, s"$eight z1 z2 z3 z4 z5 z6 z7 z8"), // chunk0 shared with doc 2
      (2L, s"$eight y1 y2 y3 y4 y5 y6 y7 y8"),
      (3L, "too short"),
      (4L, "u1 u2 u3 u4 u5 u6 u7 u8 u9"), // 9 tokens -> exactly 1 chunk, trailing tail ignored
      (5L, "q1 q2 q3 q4 q5 q6 q7 q8 q1 q2 q3 q4 q5 q6 q7 q8")) // same chunk twice IN ONE doc
      .toDF("doc_id", "text")
    val out = Dedup.chunkBoilerplate(df, "doc_id", "text")
      .orderBy("doc_id")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(out(0) == ((1L, 2L, 1L, 0.5)), s"got ${out(0)}")
    assert(out(1) == ((2L, 2L, 1L, 0.5)))
    assert(out(2) == ((3L, 0L, 0L, 1.0)), "sub-chunk docs keep everything")
    assert(out(3) == ((4L, 1L, 0L, 1.0)))
    // document frequency, not occurrence count: a chunk repeated twice
    // within ONE document (df = 1) is not boilerplate at maxChunkDf = 1
    assert(out(4) == ((5L, 2L, 0L, 1.0)), s"within-doc repeat misflagged: ${out(4)}")
  }

  test("simhash: short documents get a null sketch, never pairwise sketch-0 collisions") {
    val docs = Seq(
      (1L, "one two"), // < 3 tokens: no shingles
      (2L, "three"), // < 3 tokens: no shingles
      (3L, "a b c d e f g h i j")) // real sketch
      .toDF("doc_id", "text")
    val sk = Dedup.simhash16(docs, "text", "simhash")
      .orderBy("doc_id").select("simhash").collect().map(r => Option(r.get(0)))
    assert(sk(0).isEmpty && sk(1).isEmpty && sk(2).nonEmpty,
      "short docs must carry a null sketch, not 0")
    // the two short docs must NOT be reported as a Hamming-0 pair
    assert(Dedup.simhashPairs(docs, "text", "doc_id").count() == 0)
  }

  test("incremental minhash never pairs a document with itself on re-ingest") {
    val docs = spark.read.parquet(s"$Sf/documents.parquet").limit(50)
    val banded = Dedup.withBandKeys(docs, "text")
    // batch == corpus: every doc exists on both sides
    val pairs = Dedup.minhashPairsIncremental(banded, banded, "doc_id")
    assert(pairs.filter(col("id_new") === col("id_corpus")).count() == 0,
      "self-pairs would deduplicate documents against themselves")
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("codegen FloatVectorDot is bit-identical to the HOF fold") {
    val emb = spark.read.parquet(s"$Sf/embeddings.parquet")
    val a = emb.select($"vec_id".as("ia"), $"embedding".as("ea"))
    val b = emb.select($"vec_id".as("ib"), $"embedding".as("eb"))
    val pairs = a.join(b, $"ia" % 13 === $"ib" % 13 && $"ia" < $"ib").limit(5000)
    val diff = pairs
      .select(Similarity.dot($"ea", $"eb").as("fast"), Similarity.dotHof($"ea", $"eb").as("ref"))
      .filter(!($"fast" <=> $"ref"))
      .count()
    assert(diff == 0)
  }

  test("dot of mismatched-length vectors is NULL, matching the HOF contract") {
    val df = Seq((Array(1f, 2f, 3f), Array(1f, 2f))).toDF("a", "b")
    val out = df.select(
        Similarity.dot($"a", $"b").as("fast"),
        Similarity.dotHof($"a", $"b").as("ref"))
      .as[(Option[Double], Option[Double])].head()
    assert(out == ((None, None)), s"got $out — a partial dot would silently mis-rank")
  }

  test("salted join collapses literal duplicate rows and tolerates map columns") {
    // 1000 IDENTICAL rows of one hot key: the deterministic content-hash
    // salt would concentrate them on one salt value, so the operator
    // collapses duplicates BEFORE the shuffle (one row + __dup count) and
    // re-explodes after the join — the mass never crosses the wire. Map
    // column exercises the map_entries canonicalization path.
    // 10000 crosses the 4096-row re-explosion chunk so the two-level
    // Generate path is exercised, not just the single-chunk case
    val hot = Seq.fill(10000)((7L, Map("a" -> 1))) ++ Seq((7L, Map("b" -> 2)))
    val hotDf = hot.toDF("k", "m")
    val dim = Seq((7L, "x")).toDF("k", "name")
    val joined = graft.ops.Salting.saltedEquiJoin(hotDf, dim, Seq("k"), 8)
    assert(joined.count() == 10001)
    // map values survive the entries round-trip
    val ms = joined.select("m").collect().map(_.getMap[String, Int](0).toMap).toSet
    assert(ms == Set(Map("a" -> 1), Map("b" -> 2)))
    // determinism: two independent runs assign identical salts (the
    // property monotonically_increasing_id could not give under retry)
    val r1 = joined.collect().map(_.toString).sorted
    val r2 = graft.ops.Salting.saltedEquiJoin(hotDf, dim, Seq("k"), 8).collect().map(_.toString).sorted
    assert(r1.sameElements(r2))
  }

  test("zero-norm vectors yield null cosine, never a NaN that outranks everyone") {
    val emb = Seq(
      (1L, Array(1f, 0f, 0f), 0),
      (2L, Array(0f, 0f, 0f), 0), // zero vector: no direction
      (3L, Array(1f, 1f, 0f), 0))
      .toDF("vec_id", "embedding", "label")
    val c = emb.filter($"vec_id" === 1).select(
      Similarity.cosine($"embedding", array(lit(0f), lit(0f), lit(0f))).as("c"))
      .collect().head
    assert(c.isNullAt(0), "cosine against a zero vector must be null, not NaN")
    // near-dup pairs must not report the zero vector as anyone's duplicate
    val pairs = Similarity.nearDupPairs(emb, threshold = 0.1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L),
      s"zero vector paired: $pairs")
    // and top-k must rank real neighbors above it, not NaN-first
    val top = Similarity.topK(emb.filter($"vec_id" === 1), emb, 1)
      .select("neighbor_id").as[Long].head()
    assert(top == 3L, s"zero vector outranked a real neighbor (got $top)")
  }

  test("RRF fusion: consensus candidates outrank single-system toppers") {
    // system A ranks {10, 11, 12}; system B ranks {11, 10, 13}:
    // candidate 10: 1e6/61 + 1e6/62 = 16393 + 16129 = 32522 (consensus)
    // candidate 11: 1e6/62 + 1e6/61 = same 32522 — tie broken on id
    // candidate 12: 1e6/63 = 15873, candidate 13: same single vote
    val a = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3)).toDF("query_id", "neighbor_id", "rank")
    val b = Seq((1L, 11L, 1), (1L, 10L, 2), (1L, 13L, 3)).toDF("query_id", "neighbor_id", "rank")
    val out = graft.ext.Hybrid.rrfFuse(Seq(a, b), k = 4)
      .orderBy("rank")
      .select("rank", "neighbor_id", "rrf_us", "n_systems")
      .as[(Int, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1, 10L, 32522L, 2L), (2, 11L, 32522L, 2L),
      (3, 12L, 15873L, 1L), (4, 13L, 15873L, 1L)), s"got $out")
  }

  test("cosine of a vector with itself is 1") {
    val df = Seq((1L, Array(1f, 2f, 3f))).toDF("vec_id", "embedding")
    val c = df.select(Similarity.cosine($"embedding", $"embedding").as("c")).as[Double].head()
    assert(math.abs(c - 1.0) < 1e-12)
  }

  test("topK returns k ranked neighbors and excludes self") {
    val emb = spark.read.parquet(s"$Sf/embeddings.parquet")
    val out = Similarity.topK(emb.filter($"vec_id" < 5), emb, 4)
    val rows = out.select("query_id", "rank", "neighbor_id").as[(Long, Int, Long)].collect()
    assert(rows.groupBy(_._1).forall { case (_, rs) => rs.map(_._2).sorted.toSeq == Seq(1, 2, 3, 4) })
    assert(rows.forall { case (q, _, n) => q != n })
  }

  test("LSH bucketing confines candidates and preserves pair agreement") {
    val emb = spark.read.parquet(s"$Sf/embeddings.parquet")
    val buckets = emb.select($"vec_id", Similarity.lshBucket($"embedding").as("b"))
    val dist = buckets.groupBy("b").count()
    assert(dist.count() > 30, "LSH should spread vectors over many buckets")
    // topKLsh neighbors must share the query's bucket
    val out = Similarity.topKLsh(emb.filter($"vec_id" < 10), emb, 3)
    val bmap = buckets.as[(Long, Int)].collect().toMap
    val rows = out.select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(rows.nonEmpty && rows.forall { case (q, n) => bmap(q) == bmap(n) })
  }

  test("int8 quantization stays in code range with bounded reconstruction error") {
    val emb = spark.read.parquet(s"$Sf/embeddings.parquet")
    val (scale, q) = Similarity.quantizeInt8($"embedding")
    val checked = emb.select(
        scale.as("s"), q.as("q"),
        aggregate(zip_with(Similarity.dequantize(q, scale), $"embedding",
          (d, v) => abs(d - v.cast("double"))), lit(0.0), (a, e) => greatest(a, e)).as("err"))
      .select(
        aggregate($"q", lit(true), (acc, x) => acc && x.between(-127, 127)).as("in_range"),
        ($"err" <= $"s" / 127.0 / 2.0 + lit(1e-12)).as("err_ok"))
    assert(checked.filter(!$"in_range" || !$"err_ok").count() == 0)
    // the one-pass kernel is bit-identical to the HOF formulation
    val stats = org.apache.spark.sql.graft.FloatVectorDot.quantizeInt8Stats($"embedding")
    val diff = emb.select(
        stats(0).as("k_scale"), stats(1).as("k_qsum"), stats(2).as("k_err"),
        scale.as("h_scale"),
        aggregate(q, lit(0.0), (a, x) => a + x.cast("double")).as("h_qsum"),
        aggregate(zip_with(Similarity.dequantize(q, scale), $"embedding",
          (d, v) => abs(d - v.cast("double"))), lit(0.0), (a, e) => greatest(a, e)).as("h_err"))
      .filter(!($"k_scale" <=> $"h_scale") || !($"k_qsum" <=> $"h_qsum") || !($"k_err" <=> $"h_err"))
      .count()
    assert(diff == 0)
  }

  test("multi-probe LSH recall is at least single-probe recall") {
    val emb = spark.read.parquet(s"$Sf/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 30)
    def hits(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val exact = hits(Similarity.topK(queries, emb, 3))
    val single = hits(Similarity.topKLsh(queries, emb, 3))
    val multi = hits(Similarity.topKLshMultiProbe(queries, emb, 3))
    val singleRecall = (single intersect exact).size.toDouble / exact.size
    val multiRecall = (multi intersect exact).size.toDouble / exact.size
    assert(multiRecall >= singleRecall,
      s"multi-probe recall $multiRecall < single-probe $singleRecall")
    // every multi-probe neighbor shares a bucket within Hamming distance 1
    val buckets = emb.select($"vec_id", Similarity.lshBucket($"embedding").as("b"))
      .as[(Long, Int)].collect().toMap
    multi.foreach { case (q, n) =>
      assert(Integer.bitCount(buckets(q) ^ buckets(n)) <= 1, s"($q,$n) too far")
    }
  }

  test("salted join equals the plain join") {
    val orders = spark.read.parquet(s"$Sf/orders.parquet")
    val customer = spark.read.parquet(s"$Sf/customer.parquet")
      .withColumnRenamed("c_custkey", "o_custkey")
    val salted = graft.ops.Salting.saltedEquiJoin(orders, customer, Seq("o_custkey"), 8)
      .select("o_orderkey", "c_mktsegment")
    val plain = orders.join(customer, Seq("o_custkey"))
      .select("o_orderkey", "c_mktsegment")
    assert(salted.count() == plain.count())
    assert(salted.except(plain).count() == 0 && plain.except(salted).count() == 0)
  }

  test("two-phase topK equals single-pass window ranking") {
    val emb = spark.read.parquet(s"$Sf/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 5)
    val twoPhase = Similarity.topK(queries, emb, 3)
      .select("query_id", "rank", "neighbor_id").as[(Long, Int, Long)].collect().toSet
    // reference single-pass computation
    val q = queries.select($"vec_id".as("query_id"), $"embedding".as("q_emb"))
    val single = emb.join(broadcast(q), $"vec_id" =!= $"query_id")
      .withColumn("cos6", round(Similarity.cosine($"q_emb", $"embedding"), 6))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy($"cos6".desc, $"vec_id")))
      .filter($"rank" <= 3)
      .select("query_id", "rank", "vec_id").as[(Long, Int, Long)].collect().toSet
    assert(twoPhase == single)
  }

  test("pqCodes assigns centroids to themselves; ADC top-k is ranked and self-free") {
    val emb = spark.read.parquet(s"$Sf/embeddings.parquet")
    val centroids = emb.filter($"vec_id" < 16)
    val codes = Similarity.pqCodes(emb, centroids)
    // 8 codes per vector, each in the centroid id range
    assert(codes.count() == emb.count() * Similarity.PqSubspaces)
    assert(codes.filter($"code" < 0 || $"code" >= 16).count() == 0)
    // a centroid's nearest sub-centroid is itself (distance 0, min id tie)
    val self = codes.filter($"vec_id" < 16)
      .filter($"dist6" > 1e-6 || $"code" =!= $"vec_id").count()
    assert(self == 0, "centroid not self-coded")
    val topk = Similarity.pqAdcTopK(emb.filter($"vec_id" < 5), emb, centroids, k = 3)
    val rows = topk.select("query_id", "rank", "neighbor_id", "adc_us")
      .as[(Long, Int, Long, Long)].collect()
    assert(rows.length == 15)
    assert(rows.forall { case (q, _, n, _) => q != n })
    val byQ = rows.groupBy(_._1)
    assert(byQ.values.forall(_.map(_._2).sorted.toSeq == Seq(1, 2, 3)))
    // ranks follow ascending ADC distance
    assert(byQ.values.forall(g => g.sortBy(_._2).map(_._4).toSeq == g.map(_._4).sorted.toSeq))
  }

  test("integer Lloyd step is partitioning-invariant and conserves counts") {
    val emb = spark.read.parquet(s"$Sf/embeddings.parquet")
    val centroids = emb.filter($"vec_id" < 8)
    val up = Similarity.kmeansUpdate(emb, centroids)
    val rows = up.select("centroid_id", "dim", "c_us", "n")
      .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(rows.map(_._2).distinct.sorted == (0L until 64L))
    // every dimension of a centroid carries the same member count, and
    // the counts sum to the corpus size
    val perCentroid = rows.groupBy(_._1).view.mapValues(_.map(_._4).distinct).toMap
    assert(perCentroid.values.forall(_.size == 1))
    assert(perCentroid.values.map(_.head).sum == emb.count())
    // byte-identical across partitionings (the point of integer space)
    val again = Similarity.kmeansUpdate(emb.repartition(13), centroids)
      .select("centroid_id", "dim", "c_us", "n")
      .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(rows == again)
    val re = Similarity.kmeansReassign(emb, up)
    assert(re.count() == emb.count())
  }

  test("semanticDedup keeps every cluster minimum and is idempotent") {
    val emb = spark.read.parquet(s"$Sf/embeddings.parquet")
    val centroids = emb.filter($"vec_id" < 8)
    val survivors = Similarity.semanticDedup(emb, centroids, threshold = 0.40)
    val sIds = survivors.select("vec_id").as[Long].collect().toSet
    assert(sIds.size <= emb.count())
    // every cluster's minimum id can never be dropped (no lower cluster-mate)
    val minPerCluster = Similarity.assignToCentroids(emb, centroids)
      .groupBy("centroid_id").agg(min("vec_id").as("m"))
      .select("m").as[Long].collect()
    assert(minPerCluster.forall(sIds.contains))
    // survivors contain no intra-cluster pair above the threshold, so a
    // second pass drops nothing
    val embSurv = emb.join(survivors.select("vec_id"), "vec_id")
    val again = Similarity.semanticDedup(embSurv, centroids, threshold = 0.40)
      .select("vec_id").as[Long].collect().toSet
    assert(again == sIds)
  }

  test("knnGraphMutual: edges are mutual, deduped a<b, and partitioning-stable") {
    val emb = spark.read.parquet(s"$Sf/embeddings.parquet")
    val edges = Similarity.knnGraphMutual(emb, k = 4)
      .as[(Long, Long, Double)].collect().toSeq
    assert(edges.nonEmpty)
    // canonical orientation, no duplicates
    assert(edges.forall { case (a, b, _) => a < b })
    assert(edges.map(e => (e._1, e._2)).distinct.size === edges.size)
    // mutuality: every edge endpoint lists the other in ITS directed top-k
    val directed = {
      val b = emb.select($"vec_id", $"embedding",
        Similarity.lshBucket($"embedding").as("bucket"))
      val withC = b.select($"vec_id".as("query_id"), $"embedding".as("q_emb"), $"bucket")
        .join(b.select($"vec_id", $"embedding", $"bucket"), Seq("bucket"))
        .filter($"vec_id" =!= $"query_id")
        .withColumn("cos6", round(Similarity.cosine($"q_emb", $"embedding"), 6))
      import org.apache.spark.sql.expressions.Window
      withC.withColumn("rk", row_number().over(
          Window.partitionBy("query_id").orderBy($"cos6".desc, $"vec_id")))
        .filter($"rk" <= 4)
        .select($"query_id", $"vec_id").as[(Long, Long)].collect().toSet
    }
    assert(edges.forall { case (a, b, _) =>
      directed.contains((a, b)) && directed.contains((b, a)) })
    // stability under repartition
    val again = Similarity.knnGraphMutual(emb.repartition(7), k = 4)
      .as[(Long, Long, Double)].collect().toSeq.sorted
    assert(again === edges.sorted)
  }

  test("knnGraphIncremental equals a full rebuild, including a delta-induced cap flip") {
    // fixture: 20% delta batch vs full rebuild over the union
    val emb = spark.read.parquet(s"$Sf/embeddings.parquet")
    val base = emb.filter($"vec_id" % 5 =!= 4)
    val delta = emb.filter($"vec_id" % 5 === 4)
    val inc = Similarity.knnGraphIncremental(
        base, delta, Similarity.knnDirected(base, k = 4), k = 4)
      .as[(Long, Long, Double)].collect().toSeq.sorted
    val full = Similarity.knnGraphMutual(emb, k = 4)
      .as[(Long, Long, Double)].collect().toSeq.sorted
    assert(inc === full && full.nonEmpty)
    // cap flip: one plane → two buckets; the delta pushes the positive
    // bucket over the cap, so a full rebuild drops it whole — the
    // incremental path must drop those members' edges identically (the
    // exactness case a merge-old-top-k design would get wrong)
    val dim = Similarity.VecDim
    def clustered(ids: Seq[Long]) = ids.map { i =>
      val sign = if (i % 2 == 0) 1.0f else -1.0f
      (i, (0 until dim).map(d =>
        sign * Similarity.planeComponent(0, d) +
          (if (d == 0) sign * (i % 7).toFloat else 0f)).toArray)
    }.toDF("vec_id", "embedding")
    val base2 = clustered(0L until 10L)         // 5 per bucket
    val delta2 = clustered(Seq(10L, 12L, 14L))  // 3 more positives → 8 > cap
    val state2 = Similarity.knnDirected(base2, k = 3, planes = 1, bucketCap = 6L)
    val inc2 = Similarity.knnGraphIncremental(base2, delta2, state2,
        k = 3, planes = 1, bucketCap = 6L)
      .as[(Long, Long, Double)].collect().toSeq.sorted
    val full2 = Similarity.knnGraphMutual(base2.union(delta2),
        k = 3, planes = 1, bucketCap = 6L)
      .as[(Long, Long, Double)].collect().toSeq.sorted
    assert(inc2 === full2)
    // the flipped (positive) bucket contributes nothing; the untouched
    // negative bucket's edges survive verbatim
    assert(full2.nonEmpty && full2.forall { case (a, b, _) => a % 2 == 1 && b % 2 == 1 })
  }

  test("knnDirectedIncremental folds a multi-batch ingest to the exact rebuild state") {
    // the continuous-ingest loop a production pipeline runs: corpus and
    // directed-edge state fold batch by batch; after EVERY batch the
    // carried state must equal a from-scratch knnDirected over the
    // corpus so far (state drift would compound silently otherwise).
    // The state is localCheckpointed per batch exactly as a foreachBatch
    // sink would persist it — each batch's plan starts from materialized
    // state, not the whole fold's lineage.
    val emb = spark.read.parquet(s"$Sf/embeddings.parquet")
    val batches = (0 until 4).map(b => emb.filter($"vec_id" % 4 === b))
    var corpus = batches.head
    var state = Similarity.knnDirected(corpus, k = 3).localCheckpoint()
    for ((batch, i) <- batches.tail.zipWithIndex) {
      state = Similarity.knnDirectedIncremental(corpus, batch, state, k = 3)
        .localCheckpoint()
      corpus = corpus.union(batch)
      val rebuilt = Similarity.knnDirected(corpus, k = 3)
        .as[(Long, Long, Double)].collect().toSeq.sorted
      val carried = state.as[(Long, Long, Double)].collect().toSeq.sorted
      assert(carried === rebuilt, s"state drifted after batch ${i + 1}")
    }
  }

  test("banded kNN candidates contain the single-bucket candidates; recall strictly helped") {
    val emb = spark.read.parquet(s"$Sf/embeddings.parquet")
    // band 0's plane group IS the single-bucket plane set (global planes
    // 0..7), so the banded candidate set is a superset by construction
    // and measured recall can only rise
    val single = Similarity.knnRecallAudit(emb, k = 4).collect()(0)
    val banded = Similarity.knnRecallAuditBanded(emb, k = 4).collect()(0)
    assert(banded.getAs[Long]("recall_ppm") >= single.getAs[Long]("recall_ppm"))
    assert(banded.getAs[Long]("n_candidates") >= single.getAs[Long]("n_candidates"))
    // mutual graph face runs and is canonical
    val edges = Similarity.knnGraphBanded(emb, k = 4)
      .as[(Long, Long, Double)].collect().toSeq
    assert(edges.nonEmpty && edges.forall { case (a, b, _) => a < b })
    assert(edges.map(e => (e._1, e._2)).distinct.size === edges.size)
  }

  test("committed banded config (12x5, 2 probes) clears 500k ppm directed recall; probes only add") {
    val emb = spark.read.parquet(s"$Sf/embeddings.parquet")
    // the registered knn_recall_banded / knn_graph_banded / knn_communities
    // config — the measured answer to the single-bucket scheme's ~3% and
    // the 4x8-band scheme's ~15% directed recall on near-random vectors
    val probed = Similarity.knnRecallAuditBanded(emb, k = 4,
      bands = 12, bandPlanes = 5, probes = 2).collect()(0)
    assert(probed.getAs[Long]("recall_ppm") >= 500000L,
      s"committed config under 50% recall: $probed")
    // multi-probe only ADDS candidate buckets (the probe set contains the
    // true bucket), so recall is monotone in probes
    val unprobed = Similarity.knnRecallAuditBanded(emb, k = 4,
      bands = 12, bandPlanes = 5, probes = 1).collect()(0)
    assert(probed.getAs[Long]("recall_ppm") >= unprobed.getAs[Long]("recall_ppm"),
      s"probes lowered recall: $unprobed -> $probed")
  }

  test("banded kNN rejects degenerate geometries: bandPlanes < 1 fails fast") {
    val emb = spark.read.parquet(s"$Sf/embeddings.parquet")
    // bandPlanes = 0 previously slipped the bands*bandPlanes <= 62 guard
    // and surfaced later as a cryptic empty.reduce inside the bucket hash
    intercept[IllegalArgumentException] {
      Similarity.knnDirectedBanded(emb, k = 3, bands = 2, bandPlanes = 0)
    }
    intercept[IllegalArgumentException] {
      Similarity.knnDirectedBanded(emb, k = 3, bands = 3, bandPlanes = -1)
    }
  }

  test("knnRecallAudit: ppm invariants on the fixture; perfect buckets audit at 10^6") {
    val emb = spark.read.parquet(s"$Sf/embeddings.parquet")
    val r = Similarity.knnRecallAudit(emb, k = 4).collect()(0)
    val (nTrue, nCand, nHits) =
      (r.getAs[Long]("n_true"), r.getAs[Long]("n_candidates"), r.getAs[Long]("n_hits"))
    assert(nTrue > 0 && nHits <= nCand && nHits <= nTrue)
    assert(r.getAs[Long]("recall_ppm") === nHits * 1000000L / nTrue)
    assert(r.getAs[Long]("precision_ppm") === nHits * 1000000L / math.max(nCand, 1L))
    // two tight same-direction clusters, one plane: bucketing is exact →
    // every true neighbor shares the query's bucket → recall = 10^6 ppm
    val dim = Similarity.VecDim
    val clustered = (0L until 40L).map { i =>
      val sign = if (i % 2 == 0) 1.0f else -1.0f
      // plane 0's components alternate sign; align cluster direction with
      // it exactly: v = sign * planeComponent(0, d) (+ tiny id jitter on
      // one dim to break cosine ties deterministically)
      (i, (0 until dim).map(d =>
        sign * Similarity.planeComponent(0, d) +
          (if (d == 0) sign * (i % 7).toFloat else 0f)).toArray)
    }.toDF("vec_id", "embedding")
    val rc = Similarity.knnRecallAudit(clustered, k = 3, planes = 1, sampleMod = 4L)
      .collect()(0)
    assert(rc.getAs[Long]("recall_ppm") === 1000000L,
      s"perfect bucketing must audit at full recall: $rc")
  }
}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("decodeFeatures preserves ids, is deterministic, and emits 8-dim features") {
    val media = Multimodal.attachPayload(spark.read.parquet(s"$Sf/documents.parquet"))
      .as[Multimodal.MediaRecord]
    val f1 = Multimodal.decodeFeatures(media).collect().sortBy(_.doc_id)
    val f2 = Multimodal.decodeFeatures(media).collect().sortBy(_.doc_id)
    assert(f1.length == 500)
    assert(f1.forall(_.features.length == 8))
    assert(f1.map(_.checksum).toSeq == f2.map(_.checksum).toSeq)
    assert(f1.forall(f => f.features.forall(v => v >= 0f && v <= 1f)))
  }

  test("sampleFrames is deterministic, respects offsets, and guards short payloads") {
    val media = Seq(
      Multimodal.MediaRecord(1L, "text/plain", ("a" * 64).getBytes("UTF-8")),
      Multimodal.MediaRecord(2L, "text/plain", "short".getBytes("UTF-8")))
      .toDS()
    val out = Multimodal.sampleFrames(media).collect().sortBy(_.doc_id)
    // uniform payload: every frame window has the same bytes -> equal checksums
    assert(out(0).n_frames == 4)
    assert(Set(out(0).f0, out(0).f1, out(0).f2, out(0).f3).size == 1)
    // sub-frame payload: sentinel path
    assert(out(1).n_frames == 0 && out(1).f0 == -1L)
    // deterministic across partitionings
    val again = Multimodal.sampleFrames(media.repartition(3)).collect().sortBy(_.doc_id)
    assert(out.toSeq == again.toSeq)
  }

  test("joinModalities flags missing embeddings as null dim") {
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    val emb = spark.read.parquet(s"$Sf/embeddings.parquet").filter($"vec_id" < 100)
    val out = Multimodal.joinModalities(docs, emb)
    assert(out.filter($"has_embedding" === false).count() == 400)
    assert(out.filter($"has_embedding" && $"emb_dim" =!= 64).count() == 0)
  }

  test("shardLayout: start-assigned invariants and the one-item overflow bound") {
    val cap = 4096L
    val media = spark.read.parquet(s"$Sf/documents.parquet")
      .select($"doc_id", $"source", octet_length($"text").cast("long").as("size_bytes"))
    val layout = Multimodal.shardLayout(media, "doc_id", "source", "size_bytes", cap)
      .localCheckpoint(true)
    // total coverage: every item laid out exactly once
    assert(layout.count() == media.count())
    // address arithmetic: start = shard*cap + offset, offset within [0, cap)
    assert(layout.filter(
      $"start_byte" =!= $"shard_idx" * cap + $"shard_offset" ||
      $"shard_offset" < 0 || $"shard_offset" >= cap).count() == 0)
    // per-stream addresses are a gapless 0-based byte space
    val perStream = layout.groupBy("source")
      .agg(min("start_byte").as("mn"), max($"start_byte" + $"size_bytes").as("end"),
        sum("size_bytes").as("total"))
    assert(perStream.filter($"mn" =!= 0L || $"end" =!= $"total").count() == 0,
      "per-stream cumsum must be gapless from 0")
    // spans = shards the byte range touches
    assert(layout.filter($"spans" =!=
      (($"start_byte" + $"size_bytes" - 1) / cap).cast("long") - $"shard_idx" + 1).count() == 0)
    // the start-assigned trade, quantified: a shard owns at most
    // cap + maxItem - 1 bytes (greedy no-split would cap at `cap` but
    // needs a sequential recurrence)
    val maxItem = media.agg(max("size_bytes")).head.getLong(0)
    val manifest = Multimodal.shardManifest(layout, "doc_id", "source", cap)
    assert(manifest.filter($"bytes" > cap + maxItem - 1).count() == 0,
      s"shard exceeded the start-assignment bound (cap=$cap, maxItem=$maxItem)")
    // manifests conserve items and bytes
    assert(manifest.agg(sum("n_items")).head.getLong(0) == media.count())
    assert(manifest.agg(sum("bytes")).head.getLong(0) ==
      media.agg(sum("size_bytes")).head.getLong(0))
    // partition-independence: the layout is a function of the data only
    val again = Multimodal.shardLayout(media.repartition(7), "doc_id", "source", "size_bytes", cap)
    assert(layout.exceptAll(again).isEmpty && again.exceptAll(layout).isEmpty,
      "shard layout must not depend on input partitioning")
  }
}
