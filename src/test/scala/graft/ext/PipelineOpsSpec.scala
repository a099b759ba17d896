package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Semantics pins for the round-6 pipeline operators: Bloom prefilter
 * (no false negatives, bounded false positives, partitioning-stable),
 * duplicate-span statistics (hand-checked corpus), blocked fuzzy NN
 * (block cap, distance bound, symmetry of candidacy), sequence packing
 * (exact-fill invariants), cross-source overlap census. */
class PipelineOpsSpec extends SparkSpec {
  import spark.implicits._

  // ---- Bloom -------------------------------------------------------------

  test("bloom has no false negatives and a bounded false-positive rate") {
    val inserted = (0L until 2000L).map(_ * 7919L + 13L)
    val df = inserted.toDF("h")
    val words = Bloom.buildWords(df, "h", numBits = 1 << 14)
    // every inserted key must probe true
    val misses = df.filter(!Bloom.mightContain(words, col("h"), 1 << 14)).count()
    assert(misses === 0L)
    // disjoint probe set: FP rate must be far below 50% (expected ~4% at
    // this load factor; 15% leaves slack for hash clumping, not bugs)
    val probes = (0L until 4000L).map(_ * 104729L + 1L).filterNot(inserted.toSet).toDF("h")
    val fp = probes.filter(Bloom.mightContain(words, col("h"), 1 << 14)).count()
    assert(fp.toDouble / 4000 < 0.15, s"false-positive rate ${fp / 4000.0} too high")
  }

  test("bloom words are independent of partitioning and row order") {
    val hashes = (0L until 500L).map(i => i * 31L - 250L) // negatives included
    val a = Bloom.buildWords(hashes.toDF("h"), "h")
    val b = Bloom.buildWords(hashes.reverse.toDF("h").repartition(7), "h")
    assert(a.toSeq === b.toSeq)
  }

  test("bloom build ignores null hashes instead of NPEing the word assembly") {
    val df = Seq(Some(1L), None, Some(2L)).toDF("h")
    val words = Bloom.buildWords(df, "h")
    val nonNull = Seq(1L, 2L).toDF("h")
    assert(nonNull.filter(!Bloom.mightContain(words, col("h"))).count() === 0L)
    assert(words.toSeq === Bloom.buildWords(nonNull, "h").toSeq)
  }

  test("broadcast probe path agrees with the literal path verdict-for-verdict") {
    val inserted = (0L until 1500L).map(_ * 6007L - 4500000L) // negatives included
    val words = Bloom.buildWords(inserted.toDF("h"), "h", numBits = 1 << 14)
    val probes = (-3000L until 3000L).map(_ * 911L).toDF("h")
    val bcast = spark.sparkContext.broadcast(words)
    val both = probes.select(col("h"),
      Bloom.mightContain(words, col("h"), 1 << 14).as("lit_path"),
      org.apache.spark.sql.graft.BloomProbeExpr.probe(bcast, col("h"), 1 << 14, 4).as("bc_path"))
    assert(both.filter(col("lit_path") =!= col("bc_path")).count() === 0L)
  }

  test("a MiB-scale filter probes through a broadcast without plan-size blowup") {
    val numBits = 1 << 23 // 2^23 bits = 1 MiB of words, past the 64 KiB threshold
    val inserted = (0L until 5000L).map(_ * 7919L + 13L)
    val words = Bloom.buildWords(inserted.toDF("h"), "h", numBits)
    assert(words.length * 8 > Bloom.BroadcastThresholdBytes)
    val df = inserted.toDF("h").filter(!Bloom.mightContain(words, col("h"), numBits))
    // no false negatives through the broadcast path
    assert(df.count() === 0L)
    // the filter must NOT be embedded in the plan: a typedLit of 2^17
    // longs would print megabytes; the broadcast handle prints a name
    val planStr = inserted.toDF("h")
      .filter(Bloom.mightContain(words, col("h"), numBits))
      .queryExecution.executedPlan.toString
    assert(planStr.length < 100 * 1024,
      s"plan string is ${planStr.length} chars — filter words embedded in the plan?")
  }

  test("bloom probe runs inside a streaming filter (decontaminate-on-ingest face)") {
    // the probe is a pure Column conjunction, so the same bitset built
    // batch-side drops contaminated rows on a stream with no state store
    // and no stream-static join — the decontaminate-on-ingest shape
    implicit val sqlCtx = spark.sqlContext
    val banned = Seq(10L, 20L, 30L)
    val words = Bloom.buildWords(banned.toDF("h"), "h")
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    stream.addData(5L, 10L, 15L, 20L, 25L)
    val q = stream.toDF().withColumnRenamed("value", "h")
      .filter(!Bloom.mightContain(words, col("h")))
      .writeStream.outputMode("append").format("memory").queryName("bloom_stream_out").start()
    try q.processAllAvailable() finally q.stop()
    val kept = spark.table("bloom_stream_out").as[Long].collect().toSet
    assert(!kept.contains(10L) && !kept.contains(20L)) // no false negatives ever
    assert((kept - 5L - 15L - 25L).isEmpty)            // FPs only from the probe set
  }

  test("bloom rejects a non-power-of-two table and a mismatched word array") {
    intercept[IllegalArgumentException] { Bloom.positions(lit(1L), 1000, 4) }
    intercept[IllegalArgumentException] { Bloom.mightContain(new Array[Long](3), lit(1L)) }
  }

  // ---- dupSpanStats ------------------------------------------------------

  test("dupSpanStats finds the longest cross-duplicated chunk run") {
    // chunkSize=2: doc 1 and doc 2 share chunks (a b) and (c d) back to
    // back -> run of 2 in both; doc 3 shares nothing; doc 4 repeats its
    // OWN chunk twice (self-similarity, not cross-dup -> zero dup chunks).
    val docs = Seq(
      (1L, "a b c d x y"),     // chunks: (a b)(c d)(x y)
      (2L, "a b c d q r"),     // chunks: (a b)(c d)(q r)
      (3L, "k l m n"),         // chunks: (k l)(m n)
      (4L, "z w z w")          // chunks: (z w)(z w) twice in ONE doc only
    ).toDF("doc_id", "text")
    val out = Dedup.dupSpanStats(docs, "doc_id", "text", chunkSize = 2)
      .orderBy("doc_id")
      .select("doc_id", "n_chunks", "n_dup_chunks", "max_dup_run", "max_dup_tokens")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(out === Seq(
      (1L, 3L, 2L, 2L, 4L),
      (2L, 3L, 2L, 2L, 4L),
      (3L, 2L, 0L, 0L, 0L),
      (4L, 2L, 0L, 0L, 0L)))
  }

  test("dupSpanStats emits every input doc, including sub-chunk ones") {
    val docs = Seq((1L, "only one"), (2L, "a b c d e f g h i")).toDF("doc_id", "text")
    val out = Dedup.dupSpanStats(docs, "doc_id", "text", chunkSize = 8)
      .orderBy("doc_id").select("doc_id", "n_chunks").as[(Long, Long)].collect().toSeq
    assert(out === Seq((1L, 0L), (2L, 1L))) // doc 1 shorter than one chunk
  }

  test("dedupSpans removes exactly the cross-duplicated chunks, keeps tails") {
    val docs = Seq(
      (1L, "a b c d x y z"),   // chunks (a b)(c d)(x y); tail: z
      (2L, "a b c d q r"),     // shares (a b)(c d) with doc 1
      (3L, "k l m")            // sub-chunk-free: (k l) unique; tail m
    ).toDF("doc_id", "text")
    val out = Dedup.dedupSpans(docs, "doc_id", "text", chunkSize = 2)
      .orderBy("doc_id").select("doc_id", "n_kept_tokens", "kept_text")
      .as[(Long, Long, String)].collect().toSeq
    assert(out === Seq(
      (1L, 3L, "x y z"),       // (a b)(c d) dropped, (x y) + tail z kept
      (2L, 2L, "q r"),         // (q r) kept, no tail
      (3L, 3L, "k l m")))      // nothing shared
    // a doc losing EVERY chunk keeps only its tail (possibly empty)
    val all = Seq((1L, "a b"), (2L, "a b")).toDF("doc_id", "text")
    val gone = Dedup.dedupSpans(all, "doc_id", "text", chunkSize = 2)
      .orderBy("doc_id").select("n_kept_tokens", "kept_text")
      .as[(Long, String)].collect().toSeq
    assert(gone === Seq((0L, ""), (0L, "")))
  }

  // ---- nearestInBlock ----------------------------------------------------

  test("nearestInBlock picks the min-distance match with deterministic ties") {
    val df = Seq(
      (1L, "kitten", "b1"), (2L, "sitten", "b1"), (3L, "sitting", "b1"),
      (4L, "kitten", "b2") // other block: never a candidate for b1 rows
    ).toDF("id", "s", "blk")
    val out = Linkage.nearestInBlock(df, "id", "s", Seq("blk"), maxDist = 3)
      .orderBy("id").select("id", "match_id", "dist").as[(Long, Long, Int)].collect().toSeq
    // kitten->sitten d=1; sitten->kitten d=1 beats sitting d=2;
    // sitting->sitten d=2 (sub i->e + del g); lone b2 row has no candidate
    assert(out === Seq((1L, 2L, 1), (2L, 1L, 1), (3L, 2L, 2)))
  }

  test("nearestAcross links two catalogs; same ids allowed unless excluded") {
    val catalogA = Seq((1L, "acme corp", "us"), (2L, "zenith ltd", "uk")).toDF("id", "s", "blk")
    val catalogB = Seq(
      (1L, "acme corp.", "us"),  // same id as A's row 1 — legitimate cross-catalog match
      (7L, "acme co", "us"), (8L, "zenith limited", "uk")).toDF("id", "s", "blk")
    val out = Linkage.nearestAcross(catalogA, catalogB, "id", "s", Seq("blk"), maxDist = 4)
      .orderBy("id").select("id", "match_id", "dist").as[(Long, Long, Int)].collect().toSeq
    // A1 "acme corp" -> B1 "acme corp." d=1 (beats B7 "acme co" d=3);
    // A2 "zenith ltd" -> B8 "zenith limited" d=4
    assert(out === Seq((1L, 1L, 1), (2L, 8L, 4)))
  }

  test("nearestInBlock drops blocks over the cap and honors maxDist") {
    val big = (1L to 10L).map(i => (i, s"v$i", "hot")) :+ (99L, "aa", "cold") :+ (98L, "ab", "cold")
    val df = big.toDF("id", "s", "blk")
    val out = Linkage.nearestInBlock(df, "id", "s", Seq("blk"), maxDist = 1, blockCap = 5)
      .select("id").as[Long].collect().toSeq.sorted
    assert(out === Seq(98L, 99L)) // hot block (10 rows) capped away entirely
    val far = Seq((1L, "aaaa", "b"), (2L, "zzzz", "b")).toDF("id", "s", "blk")
    assert(Linkage.nearestInBlock(far, "id", "s", Seq("blk"), maxDist = 2).count() === 0L)
  }

  test("blockCapAudit reports exactly what nearestAcross will drop") {
    // block sizes: a=3, b=1 on the probe side; match side gets a 4th 'a'
    val probe = Seq((1L, "x", "a"), (2L, "y", "a"), (3L, "z", "a"), (4L, "w", "b"))
      .toDF("id", "s", "blk")
    val matchSide = probe.unionAll(Seq((5L, "v", "a")).toDF("id", "s", "blk"))
    val audit = Linkage.blockCapAudit(probe, matchSide, Seq("blk"), blockCap = 3L)
      .orderBy("side")
      .select("side", "blocks", "n_rows", "dropped_blocks", "dropped_rows", "largest_block")
      .as[(String, Long, Long, Long, Long, Long)].collect()
    // match side: block a has 4 rows > cap 3 → dropped; probe side: none
    assert(audit === Array(
      ("match", 2L, 5L, 1L, 4L, 4L),
      ("probe", 2L, 4L, 0L, 0L, 3L)))
    // the dropped_rows number must agree with what the linkage actually
    // excludes: ids 1,2,3 probe against match block a (capped out) find
    // nothing through it
    val linked = Linkage.nearestAcross(probe, matchSide, "id", "s", Seq("blk"),
      maxDist = 3, blockCap = 3L)
    assert(linked.filter(col("id").isin(1L, 2L, 3L)).count() === 0L)
  }

  // ---- packSequences -----------------------------------------------------

  test("packSequences invariants: contiguous fill, exact spans, per-group streams") {
    val df = graft.io.TableIO.read(spark, Sf, "documents")
    val out = Curation.packSequences(df, "doc_id", "lang",
        graft.ext.TextOps.tokenCount(col("text")), seqLen = 100L)
      .orderBy("lang", "doc_id")
      .select("lang", "doc_id", "n_tokens", "start_tok", "first_seq", "n_seqs", "offset_in_seq")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
    assert(out.nonEmpty)
    out.groupBy(_._1).foreach { case (_, rows) =>
      var expectStart = 0L
      rows.foreach { case (_, _, n, start, firstSeq, nSeqs, off) =>
        assert(start === expectStart)          // contiguous: no gaps, no overlap
        assert(firstSeq === start / 100)
        assert(off === start % 100)
        val expectSpans = if (n > 0) (start + n - 1) / 100 - start / 100 + 1 else 1L
        assert(nSeqs === expectSpans)
        expectStart += n
      }
    }
  }

  test("packSequences: one giant group splits across chunks and still fills exactly") {
    // a single group at 10k rows with chunkParts=5: the range partitioner
    // must split the group's order into multiple contiguous chunks, and
    // the two-level cumsum must equal the brute-force running sum
    val n = 10000
    val df = (0 until n).map(i => ("solo", i.toLong, (i % 37).toLong)).toDF("lang", "doc_id", "nt")
    val out = Curation.packSequences(df, "doc_id", "lang", col("nt"), seqLen = 512L, chunkParts = 5)
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "start_tok", "first_seq", "n_seqs", "offset_in_seq")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(out.length === n)
    var cursor = 0L
    out.foreach { case (_, nt, start, fs, ns, off) =>
      assert(start === cursor && fs === start / 512 && off === start % 512)
      assert(ns === (if (nt > 0) (start + nt - 1) / 512 - start / 512 + 1 else 1L))
      cursor += nt
    }
  }

  test("packSequences keeps NULL-group rows as their own stream") {
    val df = Seq((Some("en"), 1L, 10L), (None, 2L, 20L), (None, 3L, 30L), (Some("en"), 4L, 40L))
      .toDF("lang", "doc_id", "nt")
    val out = Curation.packSequences(df, "doc_id", "lang", col("nt"), seqLen = 16L)
      .orderBy("doc_id")
      .select("doc_id", "start_tok").as[(Long, Long)].collect()
    // NULL is a legitimate group: docs 2,3 pack their own stream (0, 20)
    assert(out === Array((1L, 0L), (2L, 0L), (3L, 20L), (4L, 10L)))
  }

  test("blockCapAudit on an empty side reports zeros, not NULLs") {
    val probe = Seq((1L, "x", "a")).toDF("id", "s", "blk")
    val empty = probe.filter(col("id") < 0)
    val audit = Linkage.blockCapAudit(empty, probe, Seq("blk"), blockCap = 10L)
      .orderBy("side")
      .select("side", "blocks", "n_rows", "dropped_blocks", "dropped_rows", "largest_block")
      .as[(String, Long, Long, Long, Long, Long)].collect()
    assert(audit === Array(("match", 1L, 1L, 0L, 0L, 1L), ("probe", 0L, 0L, 0L, 0L, 0L)))
  }

  // ---- chunkDocs ---------------------------------------------------------

  test("chunkDocs windows cover every token with the configured overlap") {
    val docs = Seq((1L, (1 to 10).map(i => s"t$i").mkString(" ")), (2L, "a b")).toDF("doc_id", "text")
    val out = TextOps.chunkDocs(docs, "doc_id", "text", chunkTokens = 4, stride = 3)
      .orderBy("doc_id", "chunk_idx")
      .select("doc_id", "chunk_idx", "n_chunk_tokens", "chunk_text")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(out === Seq(
      (1L, 0L, 4L, "t1 t2 t3 t4"),
      (1L, 1L, 4L, "t4 t5 t6 t7"),
      (1L, 2L, 4L, "t7 t8 t9 t10"),
      (2L, 0L, 2L, "a b")))
    // every token index appears in some window; consecutive windows
    // overlap by chunkTokens - stride
    intercept[IllegalArgumentException](
      TextOps.chunkDocs(docs, "doc_id", "text", chunkTokens = 4, stride = 5))
  }

  // ---- keySkewAudit ------------------------------------------------------

  test("keySkewAudit ranks keys by count with exact micro-unit shares") {
    val df = (Seq.fill(6)(1L) ++ Seq.fill(3)(2L) ++ Seq(3L)).toDF("k")
    val out = graft.ops.Salting.keySkewAudit(df, Seq("k"), topN = 2)
      .select("k", "n", "share_us").as[(Long, Long, Long)].collect().toSeq
    assert(out === Seq((1L, 6L, 600000L), (2L, 3L, 300000L)))
  }

  // ---- crossSourceOverlap ------------------------------------------------

  test("crossSourceOverlap counts distinct shared keys per source pair") {
    val df = Seq(
      ("k1", "sA"), ("k1", "sB"), ("k1", "sB"), // dup (key, source) rows collapse
      ("k2", "sA"), ("k2", "sC"),
      ("k3", "sB"), ("k3", "sC"), ("k3", "sA")
    ).toDF("k", "src")
    val out = Curation.crossSourceOverlap(df, col("k"), "src")
      .orderBy("src_a", "src_b")
      .select("src_a", "src_b", "n_shared").as[(String, String, Long)].collect().toSeq
    assert(out === Seq(("sA", "sB", 2L), ("sA", "sC", 2L), ("sB", "sC", 1L)))
  }

  // ---- mixtureExecute ------------------------------------------------------

  test("mixtureExecute realizes the epoch plan: full repeats exact, partial epoch in bounds") {
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    val tok = size(split(col("text"), " ")).cast("long")
    val plan = Curation.mixtureEpochPlan(docs, "source", tok, budgetTokens = 200000L)
    val realized = Curation.mixtureExecute(docs, col("doc_id"), "source", tok, plan)
      .groupBy("source").agg(sum("__tok").as("rt"), count(lit(1)).as("nr"))
      .join(plan, "source")
      .collect()
    assert(realized.nonEmpty)
    realized.foreach { r =>
      val (rt, tgt, ep, nt) = (r.getAs[Long]("rt"), r.getAs[Long]("target_tokens"),
        r.getAs[Long]("epochs"), r.getAs[Long]("n_tokens"))
      // structural bounds: epochs-1 full corpus passes always present,
      // the partial epoch can add at most one more full pass
      assert(rt >= (ep - 1) * nt && rt <= ep * nt,
        s"source ${r.getAs[String]("source")}: realized $rt outside [${(ep - 1) * nt}, ${ep * nt}]")
      // the ppm draw tracks the target: within 20% of a full epoch's mass
      assert(math.abs(rt - tgt) <= math.max(nt / 5, 1L),
        s"source ${r.getAs[String]("source")}: realized $rt vs target $tgt drifted > nt/5")
    }
    // determinism: same plan, same stream
    val again = Curation.mixtureExecute(docs, col("doc_id"), "source", tok, plan)
      .groupBy("source").agg(sum("__tok").as("rt")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(realized.map(r => r.getAs[String]("source") -> r.getAs[Long]("rt")).toMap == again)
  }

  test("mixtureExecute: zero-target source emits nothing (no descending-sequence hazard)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val docs = Seq((1L, "a b c", "big"), (2L, "d e", "big")).toDF("doc_id", "text", "source")
    val plan = spark.createDataFrame(
      java.util.Arrays.asList(
        Row("big", 0L, 0L), Row("ghost", 0L, 0L)),
      StructType(Seq(StructField("source", StringType),
        StructField("epochs", LongType), StructField("last_epoch_keep_ppm", LongType))))
    val out = Curation.mixtureExecute(docs, col("doc_id"), "source",
      size(split(col("text"), " ")).cast("long"), plan)
    assert(out.count() == 0L)
  }

  // ---- curationPipeline ----------------------------------------------------

  test("pipeline_e2e census: monotone doc/token mass, consistent packing total") {
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    val census = Pipeline.curationPipeline(docs, "doc_id", "text", "lang", "source",
        bounds = TextOps.GopherBounds(minWords = 20, maxWords = 80))
      .collect()
    assert(census.length == 7)
    assert(census.map(_.getAs[String]("stage")).toSeq ==
      Seq("ingest", "gopher", "span_dedup", "neardup_drop", "decontaminate", "temperature", "pack"))
    val docsSeq = census.map(_.getAs[Long]("n_docs"))
    val tokSeq = census.map(_.getAs[Long]("n_tokens"))
    // drops only (the pack stage keeps stage-5 counts verbatim)
    assert(docsSeq.sliding(2).forall(p => p(1) <= p(0)), s"docs grew: ${docsSeq.toSeq}")
    assert(tokSeq.sliding(2).forall(p => p(1) <= p(0)), s"tokens grew: ${tokSeq.toSeq}")
    assert(docsSeq.last > 0, "pipeline emptied the fixture corpus")
    // every stage must actually bite on the fixture corpus at least once
    assert(docsSeq.distinct.length >= 3, s"census suspiciously flat: ${docsSeq.toSeq}")
    val packRow = census.last
    val nSeqs = packRow.getAs[Long]("n_seqs")
    // packing covers the surviving token mass at 512/sequence
    assert(nSeqs >= (tokSeq.last + 511) / 512 && nSeqs <= tokSeq.last / 512 + 13,
      s"n_seqs $nSeqs inconsistent with ${tokSeq.last} tokens")
  }
}
