package graft.queries

import graft.ext.{Dedup, TextOps}

/**
 * Shared DuckDB mirrors of the engine's portable hash expressions and of
 * the stages two query families share. One definition per formula AND
 * per CTE chain: the Spark side lives in TextOps/Dedup/Pipeline, the
 * DuckDB side here — changing a formula or a stage means touching exactly
 * one Scala expression and one SQL mirror, never per-query copies. A chain
 * that oracles of ONE family restate is a private builder of that
 * `*Queries` object (e.g. `DedupQueries.verifiedCountsCtes`,
 * `SimilarityQueries.pqAdcCtes`), named after the Spark stage it mirrors
 * and taking only the values its callers differ in. `OracleDupSpec` fails
 * on any 6-line SQL block written twice.
 */
object OracleSql {

  /** Mirror of TextOps.tokenHashSql: base-131 polynomial over the first
   * 8 chars + last-char and length terms, mod Dedup.P. Alignment pins
   * (verified directly against DuckDB): out-of-range substring yields ''
   * and ascii('') = 0 in both engines; negative substring positions
   * count from the end in both; length() (characters), NOT strlen()
   * (bytes) — the two diverge on any multibyte token, which would
   * silently break every shingle/minhash/simhash/fingerprint oracle on
   * the first non-ASCII corpus. */
  def tokenHash(t: String): String = {
    val pows = Seq.iterate(1L, 8)(_ * 131L)
    val terms = pows.zipWithIndex
      .map { case (p, i) => s"CAST(ascii(substring($t,${i + 1},1)) AS BIGINT)*$p" }
    s"((${terms.mkString(" + ")} + CAST(ascii(substring($t,-1,1)) AS BIGINT)*1000003" +
      s" + CAST(length($t) AS BIGINT)*7) % ${Dedup.P})"
  }

  /** Mirror of TextOps.prefixKey. */
  def prefixKey: String =
    s"array_to_string(string_split(text,' ')[1:${TextOps.PrefixTokens}], ' ')"

  /** Mirror of Dedup.withShingleHashes: 3-gram shingle hashes over the
   * whitespace tokenization (range(1, len-1) is empty for < 3 tokens,
   * matching the Spark-side guard). */
  val shingles: String =
    s"""list_transform(range(1, len(string_split(text,' ')) - 1),
       |  i -> CAST((${tokenHash("string_split(text,' ')[i]")} * 10007
       |           + ${tokenHash("string_split(text,' ')[i+1]")} * 131
       |           + ${tokenHash("string_split(text,' ')[i+2]")}) % ${Dedup.P} AS BIGINT))""".stripMargin

  /** Mirror of Dedup.withBandKeys band `j`: the band's r raw minhash
   * components packed c0·P + c1 (null for short docs), coalesced to the
   * per-doc sentinel. References columns `doc_id` and `text` of the
   * enclosing FROM. */
  def bandKey(j: Int): String = {
    def rawSig(a: Long, b: Long) =
      s"list_min(list_transform($shingles, s -> (s * $a + $b) % ${Dedup.P}))"
    val packed = (0 until Dedup.LshRowsPerBand)
      .map { r => val (a, b) = Dedup.BandedSeeds(j * Dedup.LshRowsPerBand + r); rawSig(a, b) }
      .reduce((acc, c) => s"(($acc) * ${Dedup.P} + $c)")
    s"coalesce($packed, -(doc_id & ${Dedup.SentinelMask}) - 2)"
  }

  /** Mirror of Dedup.meltBands: one (doc_id, band, bkey) row per band of
   * each `from` row, as a UNION ALL of one SELECT per band. */
  def meltBands(from: String): String =
    (0 until Dedup.LshBands)
      .map(j => s"SELECT doc_id, $j AS band, ${bandKey(j)} AS bkey FROM $from")
      .mkString("\n  UNION ALL\n  ")

  /** Mirror of Dedup.meltBands + the bucket cap of minhashPairsBanded
   * over the documents of `from`: CTEs `b`, `sized` (each row's bucket
   * size) and `capped` (rows of buckets of at most 50 docs). */
  def cappedBandsCtes(from: String): String =
    s"""b AS (
       |  ${meltBands(from)}),
       |sized AS (
       |  SELECT doc_id, band, bkey,
       |         count(*) OVER (PARTITION BY band, bkey) AS bsize
       |  FROM b),
       |capped AS (SELECT * FROM sized WHERE bsize <= 50)""".stripMargin

  /** Mirror of Dedup.bucketPairs grouped per pair: (id_a, id_b) and
   * `cols` of the doc pairs that share a `capped` bucket. */
  def bucketPairsSql(cols: String): String =
    s"""SELECT a.doc_id AS id_a, b.doc_id AS id_b$cols
       |  FROM capped a JOIN capped b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2""".stripMargin

  /** Mirror of Dedup.connectedComponents' closure over the pairs CTE
   * `pairs` (id_a, id_b): `edges` holds both directions, `reach` the
   * transitive closure (recursive, so the query opens with WITH
   * RECURSIVE). */
  def reachCtes(pairs: String): String =
    s"""edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM $pairs
       |  UNION
       |  SELECT id_b AS src, id_a AS dst FROM $pairs),
       |reach AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)""".stripMargin

  /** Each reached doc's cluster: the min doc id reachable from it. */
  val reachClusters: String =
    "SELECT src AS id, least(src, min(dst)) AS cluster\nFROM reach GROUP BY src"

  /** Mirror of Pipeline.evalShingles beside the train side it probes:
   * CTEs `tr` (distinct (doc_id, sh) of the non-eval docs) and `ev` (the
   * eval split's distinct shingles), over the exploded shingles `s`. */
  val trainEvalShingles: String =
    s"""s AS (
       |  SELECT doc_id, source, unnest($shingles) AS sh FROM documents),
       |tr AS (SELECT DISTINCT doc_id, sh FROM s WHERE source <> 'src0'),
       |ev AS (SELECT DISTINCT sh FROM s WHERE source = 'src0')""".stripMargin

  /** Mirror of the Gopher word signals of TextOps.gopherRules over the
   * word list `w`: the select list from n_words to dup_frac. */
  val gopherSignals: String = {
    val stop = TextOps.Stopwords.map(x => s"'$x'").mkString(", ")
    s"""CAST(len(w) AS BIGINT) AS n_words,
       |  round(CAST(list_sum(list_transform(w, x -> strlen(x))) AS DOUBLE)
       |        / CAST(len(w) AS DOUBLE), 6) AS mean_word_len,
       |  round(CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
       |        / CAST(len(w) AS DOUBLE), 6) AS frac_alpha,
       |  CAST(len(list_filter(w, x -> x IN ($stop))) AS BIGINT) AS n_stop,
       |  CASE WHEN len(w) > 0
       |       THEN round(1.0 - CAST(len(list_distinct(w)) AS DOUBLE)
       |                        / CAST(len(w) AS DOUBLE), 6)
       |       ELSE 0.0 END AS dup_frac""".stripMargin
  }

  /** Mirror of TextOps.sparseCosinePairs' index and dot stages over the
   * shingle terms of documents with doc_id < 300: CTEs `tk`, `tf`, `f`
   * (terms of df ≤ 20), `norms` and `$dots` (pairs whose integer tf dot is
   * at least `minDot`). */
  def sparseDotCtes(dots: String, minDot: Int): String =
    s"""tk AS (
       |  SELECT doc_id, unnest($shingles) AS tok
       |  FROM documents WHERE doc_id < 300),
       |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tk GROUP BY 1, 2),
       |f AS (
       |  SELECT doc_id, tok, tf FROM (
       |    SELECT doc_id, tok, tf, count(*) OVER (PARTITION BY tok) AS df FROM tf)
       |  WHERE df <= 20),
       |norms AS (SELECT doc_id, CAST(sum(tf * tf) AS BIGINT) AS n2 FROM f GROUP BY 1),
       |$dots AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |         CAST(sum(a.tf * b.tf) AS BIGINT) AS dot
       |  FROM f a JOIN f b ON a.tok = b.tok AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |  HAVING sum(a.tf * b.tf) >= $minDot)""".stripMargin

  /** The cos6 of each `dots` pair of [[sparseDotCtes]]: the select item
   * and the FROM clause joining both norms. */
  def sparseCos(dots: String): String =
    s"""round(CAST(dot AS DOUBLE) /
       |          (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))), 6) AS cos6
       |  FROM $dots
       |  JOIN norms na ON na.doc_id = id_a
       |  JOIN norms nb ON nb.doc_id = id_b""".stripMargin

  /** Force DuckDB to MATERIALIZE every CTE of an oracle query (a pure
   * performance hint — results are unchanged). DuckDB inlines
   * non-materialized CTEs once per reference, so a CTE chain whose
   * stages each hold 60+ `list_reduce` plane dots (the banded-kNN
   * mirrors) or a per-bit lambda over the shingle expression (simhash)
   * re-evaluates the whole upstream expression tree at every reference
   * — the round-15 gate died on exactly this (`knn_communities` 343 s →
   * 3 s with materialization).
   *
   * STRUCTURAL, not textual (r16 advisor): the rewrite anchors to real
   * CTE-head positions — an identifier followed by `AS (` that sits at
   * the WITH clause's own paren depth, reached from `WITH [RECURSIVE]`
   * or from a clause-level comma after the previous CTE body. Named
   * `WINDOW w AS (...), v AS (...)` clauses, `AS (` inside string
   * literals, and subquery internals are never touched. Recursive heads
   * (which DuckDB cannot materialize) are detected by self-reference —
   * the CTE body mentioning its own name — instead of a hardcoded name
   * set, so a future recursive oracle named anything keeps working. */
  def mat(sql: String): String = {
    // CTE heads found structurally: (headNameEndOffset) positions where
    // "AS MATERIALIZED" may replace "AS". Collected first, spliced after.
    val insertAfterAs = scala.collection.mutable.ArrayBuffer.empty[Int]
    val n = sql.length
    var i = 0
    var inStr = false
    def isIdent(c: Char) = c.isLetterOrDigit || c == '_'
    def wordAt(p: Int): (String, Int) = {
      var e = p
      while (e < n && isIdent(sql(e))) e += 1
      (sql.substring(p, e), e)
    }
    def skipWs(p: Int): Int = {
      var q = p
      while (q < n && sql(q).isWhitespace) q += 1
      q
    }
    // matching close paren of the '(' at p (p points AT the '('),
    // respecting string literals; returns index of the ')'
    def closeOf(p: Int): Int = {
      var q = p
      var d = 0
      var s = false
      while (q < n) {
        val c = sql(q)
        if (s) { if (c == '\'') s = false }
        else c match {
          case '\'' => s = true
          case '(' => d += 1
          case ')' => d -= 1; if (d == 0) return q
          case _ =>
        }
        q += 1
      }
      n - 1
    }

    while (i < n) {
      val c = sql(i)
      if (inStr) { if (c == '\'') inStr = false; i += 1 }
      else if (c == '\'') { inStr = true; i += 1 }
      else if (isIdent(c) && (i == 0 || !isIdent(sql(i - 1)))) {
        val (w, e) = wordAt(i)
        if (w.equalsIgnoreCase("WITH")) {
          var p = skipWs(e)
          val (w2, e2) = wordAt(p)
          val isRecursiveClause = w2.equalsIgnoreCase("RECURSIVE")
          if (isRecursiveClause) p = skipWs(e2)
          // parse the CTE-head chain: name [(cols)] AS ( body ) [, ...]
          var more = true
          while (more) {
            more = false
            val (name, ne) = wordAt(p)
            if (name.nonEmpty) {
              var q = skipWs(ne)
              if (q < n && sql(q) == '(' && {
                    // optional column list — only if an AS follows it
                    val after = skipWs(closeOf(q) + 1)
                    wordAt(after)._1.equalsIgnoreCase("AS")
                  }) q = skipWs(closeOf(q) + 1)
              val (as, ae) = wordAt(q)
              var bo = skipWs(ae)
              // hand-written `AS MATERIALIZED (` in an oracle: keep it,
              // don't double-insert, keep walking the chain
              val (maybeMat, me) = wordAt(bo)
              val alreadyMat = maybeMat.equalsIgnoreCase("MATERIALIZED")
              if (alreadyMat) bo = skipWs(me)
              if (as.equalsIgnoreCase("AS") && bo < n && sql(bo) == '(') {
                val bc = closeOf(bo)
                val body = sql.substring(bo, bc + 1)
                // recursive heads exist only under WITH RECURSIVE, and a
                // recursive body reads itself as a RELATION — `FROM name`,
                // `JOIN name`, or a comma-style join (`FROM edges, reach`),
                // which the r17 FROM/JOIN-only form missed (DuckDB rejects
                // AS MATERIALIZED on a recursive head, so a wrongly-typed
                // comma-join oracle would die at bind time). A column
                // alias sharing the CTE's name (tf AS (… count(*) AS tf …))
                // must NOT suppress materialization, so the comma form
                // anchors to a preceding relation token: `, name` only
                // counts when followed by whitespace/alias/clause-end —
                // approximated as `,\s*name\b` which a SELECT-list alias
                // can also hit; under WITH RECURSIVE the false-positive
                // cost is only a skipped (legal) materialization hint.
                val q = java.util.regex.Pattern.quote(name)
                val selfRef = isRecursiveClause &&
                  (s"(?i)(?<![A-Za-z0-9_])(FROM|JOIN)\\s+$q(?![A-Za-z0-9_])".r
                     .findFirstIn(body).isDefined ||
                   s"(?i),\\s*$q(?![A-Za-z0-9_])".r.findFirstIn(body).isDefined)
                if (!selfRef && !alreadyMat) insertAfterAs += ae
                val after = skipWs(bc + 1)
                if (after < n && sql(after) == ',') { p = skipWs(after + 1); more = true }
              }
            }
          }
          i = e
        } else i = e
      } else i += 1
    }

    val sb = new StringBuilder
    var last = 0
    insertAfterAs.sorted.foreach { p =>
      sb.append(sql.substring(last, p)).append(" MATERIALIZED")
      last = p
    }
    sb.append(sql.substring(last, n)).toString
  }

  /** Mirror of Dedup.withChunkHashes at [[Dedup.ChunkSize]]: fixed-stride
   * token-chunk rolling hashes (empty for documents shorter than one
   * chunk, matching the Spark-side `< chunkSize` guard). */
  def chunks: String = {
    val chunkSize = Dedup.ChunkSize
    s"""CASE WHEN len(string_split(text,' ')) < $chunkSize THEN []
       |ELSE list_transform(range(0, len(string_split(text,' ')) // $chunkSize),
       |  c -> list_reduce(list_prepend(CAST(0 AS BIGINT),
       |         list_transform(range(1, ${chunkSize + 1}),
       |           k -> CAST(${tokenHash(s"string_split(text,' ')[c*$chunkSize+k]")} AS BIGINT))),
       |       (acc, x) -> (acc * 131 + x) % ${Dedup.P})) END""".stripMargin
  }
}
