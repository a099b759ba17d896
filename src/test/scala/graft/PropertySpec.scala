package graft

import graft.ext.Dedup
import graft.ops.Transforms
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-style tests (SURVEY.md §5.2): ScalaCheck generates the inputs,
 * a single Spark pass checks the invariant over the whole generated batch
 * (one job per property, not one per case). */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def sample[A](g: Gen[List[A]]): List[A] =
    g.apply(Gen.Parameters.default, Seed(42L)).get

  test("property: long <-> string codec round-trips (T5)") {
    val xs = sample(Gen.listOfN(500, Gen.chooseNum(Long.MinValue + 1, Long.MaxValue)))
    val df = xs.toDF("x")
    val bad = df
      .withColumn("rt", Transforms.stringToLong(Transforms.longToString($"x")))
      .filter(!($"x" <=> $"rt")).count()
    assert(bad == 0)
  }

  test("property: timestamp->string->timestamp is identity at second precision (T4)") {
    val fmt = "yyyy-MM-dd HH:mm:ss"
    val secs = sample(Gen.listOfN(300, Gen.chooseNum(0L, 4102444800L))) // 1970..2100
    val df = secs.toDF("s").withColumn("ts", timestamp_seconds($"s"))
    val bad = df
      .withColumn("rt", Transforms.stringToTimestamp(Transforms.timestampToString($"ts", fmt), fmt))
      .filter(!($"ts" <=> $"rt")).count()
    assert(bad == 0)
  }

  test("property: millis-string codec round-trips (T4 TIMESTAMP_STRING_MILLIS)") {
    val ms = sample(Gen.listOfN(300, Gen.chooseNum(0L, 4102444800000L)))
    val df = ms.toDF("ms")
    val bad = df
      .withColumn("ts", Transforms.millisStringToTimestamp($"ms".cast("string")))
      .withColumn("rt", Transforms.timestampToMillisString($"ts"))
      .filter(!($"ms".cast("string") <=> $"rt")).count()
    assert(bad == 0)
  }

  test("property: map scrub removes exactly the null-valued entries (T6)") {
    val entries = sample(Gen.listOfN(300,
      Gen.zip(Gen.alphaStr.map(_.take(8)), Gen.option(Gen.chooseNum(-1000, 1000)))))
    val df = entries.zipWithIndex
      .map { case ((k, v), i) => (i.toLong, k + i, v) } // unique keys per row
      .toDF("id", "k", "v")
      // collect_list drops nulls, so gather entries as structs (null value
      // preserved inside the struct), then map_from_entries
      .groupBy("id").agg(map_from_entries(collect_list(struct($"k", $"v"))).as("m"))
    val scrubbed = Transforms.mapRemoveNullValues(df, "m")
    val withNull = scrubbed.filter(exists(map_values($"m"), _.isNull)).count()
    assert(withNull == 0)
    // scrubbing is idempotent and keeps all non-null entries
    val before = df.select(explode($"m")).filter($"value".isNotNull).count()
    val after = scrubbed.select(explode($"m")).count()
    assert(before == after)
  }

  test("property: exactKeep is a fixpoint and covers every key (X1)") {
    val rows = sample(Gen.listOfN(800, Gen.zip(Gen.chooseNum(0, 50), Gen.chooseNum(0L, 100000L))))
    val df = rows.zipWithIndex.map { case ((k, v), i) => (s"k$k", v * 100000 + i) }.toDF("k", "id")
    val once = Dedup.exactKeep(df, Seq("k"), "id")
    assert(once.groupBy("k").count().filter($"count" > 1).count() == 0)
    assert(once.select("k").distinct().count() == df.select("k").distinct().count())
    val twice = Dedup.exactKeep(once, Seq("k"), "id")
    assert(twice.select("k", "id").except(once.select("k", "id")).count() == 0)
    // survivor is the minimum tiebreak per key
    val mins = df.groupBy("k").agg(min("id").as("id"))
    assert(once.select("k", "id").except(mins).count() == 0)
  }

  test("property: general murmur3 equals Guava on arbitrary byte arrays (S1+)") {
    import org.apache.spark.sql.graft.Murmur3Ring
    val guava = com.google.common.hash.Hashing.murmur3_128(0)
    val arrays = sample(Gen.listOfN(400,
      Gen.chooseNum(0, 300).flatMap(n => Gen.listOfN(n, Gen.chooseNum(-128, 127).map(_.toByte)))))
    arrays.foreach { bytes =>
      val arr = bytes.toArray
      assert(Murmur3Ring.hash64(arr, cassandraSigned = false) == guava.hashBytes(arr).asLong(),
        s"mismatch at length ${arr.length}")
    }
  }

  test("property: composite framing is injective over component boundaries (S1+)") {
    import org.apache.spark.sql.graft.Murmur3Ring
    // ("ab","c") and ("a","bc") must frame to different byte streams —
    // naive concatenation would collide them and merge ring tokens
    val pairs = sample(Gen.listOfN(200, for {
      a <- Gen.alphaStr.map(_.take(10)); b <- Gen.alphaStr.map(_.take(10))
    } yield (a, b)))
    def frame(parts: Seq[String]): Seq[Byte] =
      parts.flatMap(p => Murmur3Ring.compositeWrap(p.getBytes("UTF-8")).toSeq)
    pairs.foreach { case (a, b) =>
      val whole = a + b
      (0 to whole.length).foreach { cut =>
        val framed = frame(Seq(whole.take(cut), whole.drop(cut)))
        if (cut != a.length)
          assert(framed != frame(Seq(a, b)), s"collision: ($a,$b) vs cut $cut of '$whole'")
      }
    }
  }

  test("property: rate limiter holds the configured ceiling") {
    val limiter = new graft.run.RateLimiter(1000.0)
    val t0 = System.nanoTime()
    (1 to 300).foreach(_ => limiter.acquire())
    val elapsed = (System.nanoTime() - t0) / 1e9
    assert(elapsed >= 0.25, s"300 rows at 1000 rows/s finished in ${elapsed}s (< 0.25s floor)")
  }

  test("property: sessionizeByGap equals the sequential reference (r5)") {
    // random (user, ts-second, id) events with heavy ts collisions
    val evs = sample(Gen.listOfN(400,
      Gen.zip(Gen.chooseNum(1L, 5L), Gen.chooseNum(0L, 5000L)))).zipWithIndex
      .map { case ((u, s), i) => (u, s, i.toLong) }
    val df = evs.toDF("u", "s", "id").withColumn("ts", timestamp_seconds($"s"))
    val got = graft.ext.StreamingOps.sessionizeByGap(df, "u", "ts", "id", "10 minutes")
      .select("u", "id", "session_seq").as[(Long, Long, Long)].collect()
      .map { case (u, id, seq) => (u, id) -> seq }.toMap
    // sequential reference: walk each user's (ts, id)-sorted events
    val expected = evs.groupBy(_._1).flatMap { case (u, rows) =>
      var seq = 0L; var prev = Long.MinValue
      rows.sortBy(r => (r._2, r._3)).map { case (_, s, id) =>
        if (prev == Long.MinValue || s - prev >= 600) seq += 1
        prev = s
        (u, id) -> seq
      }
    }
    assert(got == expected)
  }

  test("property: scd2 intervals chain exactly and cover every state change (r5)") {
    val evs = sample(Gen.listOfN(300,
      Gen.zip(Gen.chooseNum(1L, 4L), Gen.chooseNum(0L, 2000L), Gen.oneOf("A", "B", "C"))))
      .zipWithIndex.map { case ((u, s, st), i) => (u, s, i.toLong, st) }
    val df = evs.toDF("u", "s", "id", "st").withColumn("ts", timestamp_seconds($"s"))
    val got = graft.ops.Scd.scd2FromChangeLog(df, "u", "ts", "id", "st")
      .select("u", "state", "version", "valid_from_us", "valid_to_us")
      .as[(Long, String, Int, Long, Option[Long])].collect().toSeq
      .groupBy(_._1).view.mapValues(_.sortBy(_._3)).toMap
    evs.groupBy(_._1).foreach { case (u, rows) =>
      val sorted = rows.sortBy(r => (r._2, r._3))
      val changes = sorted.foldLeft(List.empty[(Long, String)]) { case (acc, (_, s, _, st)) =>
        if (acc.headOption.exists(_._2 == st)) acc else (s * 1000000L, st) :: acc
      }.reverse
      val ivs = got(u)
      assert(ivs.map(i => (i._4, i._2)) == changes, s"user $u intervals diverge")
      // versions are 1..n and each valid_to chains to the next valid_from
      assert(ivs.map(_._3) == (1 to ivs.size))
      ivs.sliding(2).foreach {
        case Seq(a, b) => assert(a._5.contains(b._4), s"user $u: interval gap")
        case _ =>
      }
      assert(ivs.last._5.isEmpty, "last interval must be open")
    }
  }

  test("property: salted join equals the plain join on random dup-heavy data (r5)") {
    val rows = sample(Gen.listOfN(300,
      Gen.zip(Gen.chooseNum(1L, 4L), Gen.chooseNum(1L, 3L)))) // few keys, many dups
    val skewed = rows.toDF("k", "v")
    val dim = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e")).toDF("k", "name")
    val salted = graft.ops.Salting.saltedEquiJoin(skewed, dim, Seq("k"), 4)
      .select("k", "v", "name")
    val plain = skewed.join(dim, Seq("k")).select("k", "v", "name")
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty,
      "salted join must equal the plain join as a multiset")
  }

  test("property: OracleSql.mat never throws and is insert-only on arbitrary SQL-ish text (r17)") {
    // the structural CTE rewriter walks raw text (paren matching, string
    // literals, keyword scanning) — fuzz it with adversarial token soup
    // heavy in WITH/AS/parens/quotes/commas, including unbalanced
    // fragments a future oracle-edit typo could produce. Invariant: the
    // output minus every inserted " MATERIALIZED" equals the input
    // (pure performance hint, never a content rewrite), and no crash.
    val token = Gen.oneOf("WITH", "RECURSIVE", "AS", "(", ")", ",", "'",
      "SELECT", "FROM", "a", "b1", "reach", "MATERIALIZED", "WINDOW",
      "w", "''", "'x(y'", " ", "\n")
    val inputs = sample(Gen.listOfN(400, Gen.listOf(token).map(_.mkString(" "))))
    inputs.foreach { in =>
      val out = graft.queries.OracleSql.mat(in)
      assert(out.replace(" MATERIALIZED", "") == in.replace(" MATERIALIZED", ""),
        s"mat() rewrote content on: $in")
    }
  }
}
