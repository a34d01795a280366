package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.catalog.Tables
import graft.functions.{TextFunctions => T, VectorFunctions => V}

/** Training-data-pipeline operators over `documents` / `embeddings` — the
  * capabilities a 100 TB curation pipeline needs beyond the reference's
  * ETL surface (builder brief): exact + near dedup, similarity search,
  * text analysis. Every query is oracle-checked against DuckDB, which is
  * why all hashing bottoms out in md5 (the one hash both engines share,
  * see TextFunctions.hash32) — production would swap in xxhash64.
  *
  * Scale notes per query; the common theme is that per-doc signatures are
  * map-only, and every pairwise comparison is blocked (banded / bucketed)
  * so the join key bounds the candidate set — no all-pairs join anywhere.
  */
object Pipeline {

  private def docs(s: SparkSession, dir: String) = Tables.load(s, dir, "documents")
  private def embs(s: SparkSession, dir: String) = Tables.load(s, dir, "embeddings")

  private val K = 12      // minhash signature length
  private val BANDS = 4   // LSH bands (rows = K / BANDS = 3)
  private val ROWS = K / BANDS
  private val PLANES = 4  // sign-LSH hyperplanes → 16 buckets
  private val DIM = 64    // embedding dimensionality (testdata schema)

  /** Staged (doc_id, shingles, hashes) frame with persisted token and
    * hash materialization. The staging is load-bearing for performance:
    * projection collapse would otherwise inline the tokenizer into every
    * `t[i]` access and the md5 into every minhash branch (higher-order
    * lambdas defeat Catalyst's CSE), multiplying the expensive work
    * ~10-150×. At 100 TB these two stages are checkpointed parquet
    * tables (tokens / shingle-hashes per corpus snapshot); persist() is
    * the local[n] equivalent.
    */
  private def hashedShingles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = docs(s, dir).select($"doc_id", T.tokens($"text").as("t")).persist()
    toks
      .select($"doc_id", T.shingles("t").as("shingles"))
      .withColumn("hashes", transform($"shingles", x => T.hash32(x)))
      .persist()
  }

  /** (doc_id, b, key) band frame from a (doc_id, sig, …) signature
    * frame — the MinHash-LSH blocking q15/q43/q57 all share (one
    * definition so the banding scheme cannot drift between them).
    */
  private def bandFrame(sig: DataFrame): DataFrame =
    sig.select(
      col("doc_id"),
      explode(array((0 until BANDS).map(b =>
        struct(lit(b).as("b"), T.bandKey(col("sig"), b, ROWS).as("key"))): _*)).as("band"))
      .select(col("doc_id"), col("band.b"), col("band.key"))

  /** Distinct candidate pairs (doc_a < doc_b) from a band frame — the
    * blocked join that replaces all-pairs everywhere.
    */
  private def candidatePairs(bands: DataFrame): DataFrame =
    bands.as("x").join(bands.as("y"),
        col("x.b") === col("y.b") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()

  /** Exact dedup (hash-groupBy): canonical fingerprint = md5 of the
    * whitespace-normalized text; one row per distinct content with the
    * surviving doc (min id), the duplicate count, and the order-sensitive
    * rolling fingerprint. Map + one agg shuffle on the fingerprint —
    * at 100 TB this is the textbook first-pass dedup (fingerprint is
    * high-cardinality, so no skew).
    */
  val q13 = QueryDef(
    "q13_exact_dedup",
    (s, dir) => {
      import s.implicits._
      docs(s, dir)
        .select($"doc_id", $"n_chars",
          T.fingerprintMd5($"text").as("fingerprint"),
          T.fingerprintRolling($"text").as("fp_rolling"))
        .groupBy($"fingerprint")
        .agg(
          count(lit(1)).as("n_docs"),
          min($"doc_id").as("keeper_doc_id"),
          min($"fp_rolling").as("fp_rolling"),
          sum($"n_chars").as("total_chars"))
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, n_chars, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents
      ), fp AS (
        SELECT doc_id, n_chars,
          md5(array_to_string(t, ' ')) AS fingerprint,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(t, s -> CAST('0x' || substr(md5(s),1,8) AS BIGINT))),
            (acc, h) -> (acc*31 + h) % 1000000007) AS fp_rolling
        FROM toks
      )
      SELECT fingerprint, COUNT(*) AS n_docs, MIN(doc_id) AS keeper_doc_id,
             MIN(fp_rolling) AS fp_rolling, CAST(SUM(n_chars) AS BIGINT) AS total_chars
      FROM fp GROUP BY 1"""))

  /** Per-doc MinHash signature + LSH band keys — the map-only signature
    * stage of near-dedup (shingle → 12 seed-prefixed hashes → min each).
    * Verifies the signature math itself; q15 consumes the band keys.
    */
  val q14 = QueryDef(
    "q14_minhash_sig",
    (s, dir) => {
      import s.implicits._
      val sig = hashedShingles(s, dir)
        .withColumn("sig", T.minhashFromHashes($"hashes", K))
      sig.select(
        $"doc_id",
        $"sig".getItem(0).as("mh_0"),
        $"sig".getItem(1).as("mh_1"),
        $"sig".getItem(K - 1).as("mh_11"),
        T.bandKey($"sig", 0, ROWS).as("band_0"),
        T.bandKey($"sig", 1, ROWS).as("band_1"),
        T.bandKey($"sig", 2, ROWS).as("band_2"),
        T.bandKey($"sig", 3, ROWS).as("band_3"))
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
      ), sh AS (
        SELECT doc_id,
          CASE WHEN len(t) >= 3 THEN
            list_distinct(list_transform(generate_series(1, len(t)-2),
              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
          ELSE [] END AS shingles
        FROM toks
      ), hs AS (
        SELECT doc_id, list_transform(shingles,
          s -> CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)) AS hashes
        FROM sh
      ), sig AS (
        SELECT doc_id,
          list_transform(generate_series(0, 11), k ->
            list_min(list_transform(hashes,
              h -> ((2*k+1)*h + k*12582917) % 4294967311))) AS sig
        FROM hs
      )
      SELECT doc_id, sig[1] AS mh_0, sig[2] AS mh_1, sig[12] AS mh_11,
             md5(array_to_string(sig[1:3], ',')) AS band_0,
             md5(array_to_string(sig[4:6], ',')) AS band_1,
             md5(array_to_string(sig[7:9], ',')) AS band_2,
             md5(array_to_string(sig[10:12], ',')) AS band_3
      FROM sig"""))

  /** MinHash-LSH near-dup pairs: explode signatures into (band, key),
    * self-join on the band key (the blocking step — candidates only,
    * never all-pairs), then score candidates with both the signature
    * estimate and exact shingle Jaccard. At scale the band join is a
    * shuffle on band_key whose fan-in LSH provably bounds; the exact
    * Jaccard re-check touches only candidates.
    */
  val q15 = QueryDef(
    "q15_lsh_pairs",
    (s, dir) => {
      import s.implicits._
      // The signature frame feeds three consumers (band explode + both
      // sides of the candidate join): persist it so the staged hashes
      // run once. At 100 TB this is a checkpointed signature table,
      // computed once per corpus snapshot and reused by every dedup pass.
      val sig = hashedShingles(s, dir)
        .filter(size($"shingles") > 0)
        .withColumn("sig", T.minhashFromHashes($"hashes", K))
        .select($"doc_id", $"shingles", $"sig")
        .persist()
      val pairs = candidatePairs(bandFrame(sig))
      pairs
        .join(sig.select($"doc_id".as("doc_a"), $"shingles".as("sh_a"), $"sig".as("sig_a")), "doc_a")
        .join(sig.select($"doc_id".as("doc_b"), $"shingles".as("sh_b"), $"sig".as("sig_b")), "doc_b")
        .select($"doc_a", $"doc_b",
          T.estJaccard($"sig_a", $"sig_b", K).as("est_jaccard"),
          T.jaccard($"sh_a", $"sh_b").as("jaccard"))
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
      ), sh AS (
        SELECT doc_id,
          CASE WHEN len(t) >= 3 THEN
            list_distinct(list_transform(generate_series(1, len(t)-2),
              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
          ELSE [] END AS shingles
        FROM toks
      ), sig AS (
        SELECT doc_id, shingles,
          list_transform(generate_series(0, 11), k ->
            list_min(list_transform(
              list_transform(shingles, s -> CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)),
              h -> ((2*k+1)*h + k*12582917) % 4294967311))) AS sig
        FROM sh WHERE len(shingles) > 0
      ), bands AS (
        SELECT doc_id, shingles, sig, b,
          md5(array_to_string(sig[(3*b+1):(3*b+3)], ',')) AS band_key
        FROM sig, (SELECT unnest(generate_series(0,3)) AS b)
      ), pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          any_value(a.sig) AS sig_a, any_value(b.sig) AS sig_b,
          any_value(a.shingles) AS sh_a, any_value(b.shingles) AS sh_b
        FROM bands a JOIN bands b
          ON a.b = b.b AND a.band_key = b.band_key AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      )
      SELECT doc_a, doc_b,
        CAST(len(list_filter(generate_series(1,12), i -> sig_a[i] = sig_b[i])) AS DOUBLE) / 12.0
          AS est_jaccard,
        CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE) /
          CAST(len(list_distinct(list_concat(sh_a, sh_b))) AS DOUBLE) AS jaccard
      FROM pairs"""))

  /** Brute-force cosine top-k — the ANN correctness baseline: a small
    * query set (vec_id < 10) scored against the full corpus, ranked per
    * query. The corpus side streams (one scan, broadcast queries); this
    * is linear per query and exists to validate q17's bucketed path.
    */
  val q16 = QueryDef(
    "q16_ann_topk",
    (s, dir) => {
      import s.implicits._
      val v = embs(s, dir)
        .withColumn("e", V.asDouble($"embedding"))
        .withColumn("nrm", V.norm($"e"))
        .select($"vec_id", $"label", $"e", $"nrm")
      val q = v.filter($"vec_id" < 10)
        .select($"vec_id".as("query_id"), $"e".as("qe"), $"nrm".as("qn"))
      val scored = v.join(broadcast(q), $"vec_id" =!= $"query_id")
        .select($"query_id", $"vec_id".as("neighbor_id"), $"label".as("neighbor_label"),
          V.cosine($"qe", $"e", $"qn", $"nrm").as("cosine"))
      val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"neighbor_id")
      scored.withColumn("rnk", row_number().over(w))
        .filter($"rnk" <= 5)
        .select($"query_id", $"rnk", $"neighbor_id", $"neighbor_label", $"cosine")
    },
    Some("""
      WITH v AS (
        SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
      ), n AS (
        SELECT vec_id, label, e,
          sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform(e, x -> x*x)), (a,b) -> a+b)) AS nrm
        FROM v
      ), scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label AS neighbor_label,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform(generate_series(1,64), i -> q.e[i]*c.e[i])), (a,b) -> a+b)
            / (q.nrm * c.nrm) AS cosine
        FROM n q JOIN n c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < 10
      ), ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
        FROM scored
      )
      SELECT query_id, rnk, neighbor_id, neighbor_label, cosine FROM ranked WHERE rnk <= 5"""))

  /** Sign-LSH bucketed ANN — the 100 TB scale path: 4 md5-derived
    * hyperplanes → 16 buckets; candidates are same-bucket only, so the
    * self-join shuffles on the bucket id instead of exploding to
    * all-pairs. Top-3 within bucket for queries vec_id < 50. On a
    * cluster the bucket key is also the repartition key, making each
    * candidate set node-local.
    */
  val q17 = QueryDef(
    "q17_ann_lsh",
    (s, dir) => {
      import s.implicits._
      val v = embs(s, dir)
        .withColumn("e", V.asDouble($"embedding"))
        .withColumn("nrm", V.norm($"e"))
        .withColumn("bucket", V.hyperplaneBucket($"e", PLANES, DIM))
        .select($"vec_id", $"e", $"nrm", $"bucket")
      val q = v.filter($"vec_id" < 50)
        .select($"vec_id".as("query_id"), $"e".as("qe"), $"nrm".as("qn"), $"bucket")
      val scored = v.join(q, Seq("bucket"))
        .filter($"vec_id" =!= $"query_id")
        .select($"query_id", $"bucket", $"vec_id".as("neighbor_id"),
          V.cosine($"qe", $"e", $"qn", $"nrm").as("cosine"))
      val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"neighbor_id")
      scored.withColumn("rnk", row_number().over(w))
        .filter($"rnk" <= 3)
        .select($"query_id", $"bucket", $"rnk", $"neighbor_id", $"cosine")
    },
    Some("""
      WITH planes AS (
        SELECT j, list_transform(generate_series(0,63),
          d -> (CAST('0x' || substr(md5(j || ',' || d),1,8) AS BIGINT) % 2001 - 1000)/1000.0) AS w
        FROM (SELECT unnest(generate_series(0,3)) AS j)
      ), v AS (
        SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
      ), n AS (
        SELECT vec_id, label, e,
          sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform(e, x -> x*x)), (a,b) -> a+b)) AS nrm
        FROM v
      ), dots AS (
        SELECT n.vec_id, p.j,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform(generate_series(1,64), i -> p.w[i]*n.e[i])), (a,b) -> a+b) AS dot
        FROM n CROSS JOIN planes p
      ), buck AS (
        SELECT vec_id, CAST(SUM(CASE WHEN dot > 0
          THEN CAST(round(2**j) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
        FROM dots GROUP BY 1
      ), bn AS (
        SELECT n.*, b.bucket FROM n JOIN buck b USING (vec_id)
      ), scored AS (
        SELECT q.vec_id AS query_id, q.bucket, c.vec_id AS neighbor_id,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform(generate_series(1,64), i -> q.e[i]*c.e[i])), (a,b) -> a+b)
            / (q.nrm * c.nrm) AS cosine
        FROM bn q JOIN bn c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
        WHERE q.vec_id < 50
      ), ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
        FROM scored
      )
      SELECT query_id, bucket, rnk, neighbor_id, cosine FROM ranked WHERE rnk <= 3"""))

  /** Per-doc text analysis: n-gram-heuristic language ID, length/punct/
    * stopword quality signals, composite score — the filter stage of a
    * curation pipeline. Pure map (no shuffle at all); the given `lang`
    * column rides along so accuracy is auditable downstream.
    */
  val q18 = QueryDef(
    "q18_text_quality",
    (s, dir) => {
      import s.implicits._
      val sig = T.qualitySignals($"text").toMap
      docs(s, dir).select(
        $"doc_id", $"lang",
        T.langId($"text").as("pred_lang"),
        sig("n_chars").as("n_chars"),
        sig("n_tokens").as("n_tokens"),
        sig("punct_ratio").as("punct_ratio"),
        sig("stopword_ratio").as("stopword_ratio"),
        T.qualityScore($"text").as("quality_score"))
    },
    Some("""
      WITH base AS (
        SELECT doc_id, lang, text,
          regexp_split_to_array(trim(lower(text)), '\s+') AS t,
          CAST(length(text) AS BIGINT) AS n_chars_c,
          CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct
        FROM documents
      ), sig AS (
        SELECT doc_id, lang, n_chars_c, n_punct,
          CAST(len(t) AS BIGINT) AS n_tokens,
          CAST(len(list_filter(t, x -> list_contains(['the','and','of','to','a','in','is'], x))) AS BIGINT) AS en_hits,
          CAST(len(list_filter(t, x -> list_contains(['der','die','und','das','ist','ein'], x))) AS BIGINT) AS de_hits,
          CAST(len(list_filter(t, x -> list_contains(['el','la','de','que','y','es'], x))) AS BIGINT) AS es_hits,
          CAST(len(list_filter(t, x -> list_contains(['the','and','of','to','a','in','is','der','die','und','das','ist','ein','el','la','de','que','y','es'], x))) AS BIGINT) AS stop_hits
        FROM base
      )
      SELECT doc_id, lang,
        CASE WHEN en_hits + de_hits + es_hits = 0 THEN 'unknown'
             WHEN en_hits >= de_hits AND en_hits >= es_hits THEN 'en'
             WHEN de_hits >= es_hits THEN 'de' ELSE 'es' END AS pred_lang,
        n_chars_c AS n_chars, n_tokens,
        CAST(n_punct AS DOUBLE) / n_chars_c AS punct_ratio,
        CAST(stop_hits AS DOUBLE) / n_tokens AS stopword_ratio,
        least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.5
          + least(CAST(stop_hits AS DOUBLE) / n_tokens * 4.0, 1.0) * 0.5
          - least(CAST(n_punct AS DOUBLE) / n_chars_c * 5.0, 1.0) * 0.25 AS quality_score
      FROM sig"""))

  /** Per-doc 32-bit SimHash over 3-shingles (majority bit rule) — the
    * hamming-distance family of near-dedup. Map-only; at scale the
    * 16-bit halves become block keys (two docs within hamming distance 1
    * share at least one half).
    */
  val q19 = QueryDef(
    "q19_simhash",
    (s, dir) => {
      import s.implicits._
      hashedShingles(s, dir)
        .select($"doc_id",
          T.simhashFromHashes($"hashes").as("simhash"),
          size($"hashes").cast("long").as("n_shingles"))
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
      ), sh AS (
        SELECT doc_id,
          CASE WHEN len(t) >= 3 THEN
            list_distinct(list_transform(generate_series(1, len(t)-2),
              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
          ELSE [] END AS shingles
        FROM toks
      ), hs AS (
        SELECT doc_id, list_transform(shingles, s -> CAST('0x' || substr(md5(s),1,8) AS BIGINT)) AS hashes
        FROM sh
      ), bits AS (
        SELECT doc_id, hashes,
          list_transform(generate_series(0,31), i ->
            CAST(len(list_filter(hashes, h -> (h // CAST(round(2**i) AS BIGINT)) % 2 = 1)) AS BIGINT)) AS ones
        FROM hs
      )
      SELECT doc_id,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(generate_series(0,31), i ->
            CASE WHEN ones[i+1] * 2 > len(hashes) THEN CAST(round(2**i) AS BIGINT) ELSE 0 END)),
          (a,b) -> a+b) AS simhash,
        CAST(len(hashes) AS BIGINT) AS n_shingles
      FROM bits"""))

  /** Token-budget statistics: whitespace tokens vs BPE-ish subword
    * tokens (letter runs / digit runs / punctuation marks) — the
    * counting stage of a training-token budget estimate. Pure map.
    */
  val q29 = QueryDef(
    "q29_token_stats",
    (s, dir) => {
      import s.implicits._
      docs(s, dir).select(
        $"doc_id",
        T.tokenCount($"text").as("ws_tokens"),
        T.bpeishTokenCount($"text").as("bpeish_tokens"),
        size(regexp_extract_all($"text", lit("[A-Za-z]+"), lit(0))).cast("long").as("n_alpha"),
        size(regexp_extract_all($"text", lit("[0-9]+"), lit(0))).cast("long").as("n_num"),
        size(regexp_extract_all($"text", lit("[^A-Za-z0-9\\s]"), lit(0))).cast("long").as("n_other"))
    },
    Some("""
      SELECT doc_id,
        CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) AS ws_tokens,
        CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS bpeish_tokens,
        CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) AS n_alpha,
        CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_num,
        CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS BIGINT) AS n_other
      FROM documents"""))

  /** KMV distinct-count sketch vs the exact count: the deterministic
    * sketch both engines reproduce hash-for-hash (see Sketches) — the
    * estimate, its k-th hash, and the true cardinality in one row, so
    * the gate verifies the sketch math itself, not just "roughly
    * close".
    */
  val q39 = QueryDef(
    "q39_kmv_sketch",
    (s, dir) => {
      import s.implicits._
      import graft.functions.Sketches
      val li = Tables.load(s, dir, "lineitem")
      val sketch = Sketches.kmvDistinct(li, $"l_orderkey", 256)
      val exact = li.agg(countDistinct($"l_orderkey").as("exact"))
      sketch.crossJoin(exact)
    },
    Some("""
      WITH hashes AS (
        SELECT DISTINCT CAST('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)),1,8) AS BIGINT) AS h
        FROM lineitem
      ), kth AS (
        SELECT h FROM hashes ORDER BY h LIMIT 1 OFFSET 255
      )
      SELECT (SELECT h FROM kth) AS kth_hash,
             CAST(255 AS DOUBLE) * 4294967296.0 / (SELECT h FROM kth) AS estimate,
             (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem) AS exact"""))

  /** Count-Min heavy hitters: top-10 suppliers by estimated line count
    * next to their exact counts — the gate verifies every counter and
    * the min-over-rows estimate, not just the ranking. The sketch is
    * the profiling pass a 100 TB pipeline runs before choosing salting
    * keys (see Skew).
    */
  val q41 = QueryDef(
    "q41_cms_heavy_hitters",
    (s, dir) => {
      import s.implicits._
      import graft.functions.Sketches
      val li = Tables.load(s, dir, "lineitem")
      val est = Sketches.countMinEstimates(li, $"l_suppkey", depth = 4, width = 1024)
      val exact = li.groupBy($"l_suppkey".cast("string").as("key_s"))
        .agg(count(lit(1)).as("exact"))
      est.join(exact, "key_s")
        .select($"key_s".cast("long").as("suppkey"), $"est", $"exact")
        .orderBy($"est".desc, $"suppkey")
        .limit(10)
    },
    Some("""
      WITH seeds AS (SELECT unnest(generate_series(0,3)) AS j),
      rows_h AS (
        SELECT l_suppkey AS key,
          CAST('0x' || substr(md5(CAST(l_suppkey AS VARCHAR)),1,8) AS BIGINT) AS h
        FROM lineitem
      ),
      counters AS (
        SELECT s.j, ((2*s.j+1)*r.h + s.j*12582917) % 4294967311 % 1024 AS b, COUNT(*) AS c
        FROM rows_h r CROSS JOIN seeds s GROUP BY 1, 2
      ),
      keys AS (SELECT DISTINCT key, h FROM rows_h),
      key_buckets AS (
        SELECT k.key, s.j, ((2*s.j+1)*k.h + s.j*12582917) % 4294967311 % 1024 AS b
        FROM keys k CROSS JOIN seeds s
      ),
      est AS (
        SELECT kb.key, MIN(c.c) AS est
        FROM key_buckets kb JOIN counters c ON kb.j = c.j AND kb.b = c.b
        GROUP BY 1
      ),
      exact AS (SELECT l_suppkey AS key, COUNT(*) AS n FROM lineitem GROUP BY 1)
      SELECT e.key AS suppkey, e.est, x.n AS exact
      FROM est e JOIN exact x USING (key)
      ORDER BY e.est DESC, e.key LIMIT 10"""))

  /** Near-dup CLUSTER COLLAPSE — the scalable alternative to q15's pair
    * enumeration (FANIN.md finding 4: when a corpus contains giant
    * true-dup clusters, the pair LIST is quadratic no matter how good
    * the blocking is). Every doc gets a canonical cluster id — the
    * minimum doc_id reachable through band-key collisions — via two
    * rounds of min-label propagation over the band buckets:
    *
    *   round 1: label(doc)   = min doc_id over the doc's buckets;
    *   round 2: label(doc)   = min round-1 label over the doc's buckets.
    *
    * Each round is one groupBy + one equi-join on the band key — linear
    * shuffles, NO pairwise join anywhere. Two fixed rounds are exact for
    * clique-shaped collision graphs (what LSH bands produce inside a
    * near-dup cluster: every member shares a band key with the cluster's
    * stable shingle core) and one hop of bridging beyond; both engines
    * run the same two rounds so the gate is deterministic regardless.
    * Docs with no shingles are their own singleton cluster.
    */
  val q43 = QueryDef(
    "q43_neardup_clusters",
    (s, dir) => {
      import s.implicits._
      val sig = hashedShingles(s, dir)
        .filter(size($"shingles") > 0)
        .withColumn("sig", T.minhashFromHashes($"hashes", K))
        .select($"doc_id", $"sig")
      val bands = bandFrame(sig).persist()
      val m1 = bands.groupBy($"b", $"key").agg(min($"doc_id").as("m"))
      val l1 = bands.join(m1, Seq("b", "key")).groupBy($"doc_id").agg(min($"m").as("label"))
      val m2 = bands.join(l1, "doc_id").groupBy($"b", $"key").agg(min($"label").as("m"))
      val l2 = bands.join(m2, Seq("b", "key")).groupBy($"doc_id").agg(min($"m").as("label"))
      docs(s, dir).select($"doc_id")
        .join(l2, Seq("doc_id"), "left")
        .select($"doc_id", coalesce($"label", $"doc_id").as("cluster_id"))
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
      ), sh AS (
        SELECT doc_id,
          CASE WHEN len(t) >= 3 THEN
            list_distinct(list_transform(generate_series(1, len(t)-2),
              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
          ELSE [] END AS shingles
        FROM toks
      ), sig AS (
        SELECT doc_id,
          list_transform(generate_series(0, 11), k ->
            list_min(list_transform(
              list_transform(shingles, s -> CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)),
              h -> ((2*k+1)*h + k*12582917) % 4294967311))) AS sig
        FROM sh WHERE len(shingles) > 0
      ), bands AS (
        SELECT doc_id, b, md5(array_to_string(sig[(3*b+1):(3*b+3)], ',')) AS band_key
        FROM sig, (SELECT unnest(generate_series(0,3)) AS b)
      ), m1 AS (
        SELECT b, band_key, MIN(doc_id) AS m FROM bands GROUP BY 1, 2
      ), l1 AS (
        SELECT doc_id, MIN(m) AS label FROM bands JOIN m1 USING (b, band_key) GROUP BY 1
      ), m2 AS (
        SELECT b, band_key, MIN(label) AS m FROM bands JOIN l1 USING (doc_id) GROUP BY 1, 2
      ), l2 AS (
        SELECT doc_id, MIN(m) AS label FROM bands JOIN m2 USING (b, band_key) GROUP BY 1
      )
      SELECT d.doc_id, COALESCE(l2.label, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN l2 USING (doc_id)"""))

  /** PII redaction — the scrub stage of a curation pipeline: emails,
    * IPv4 addresses and phone numbers replaced by typed placeholders,
    * with per-kind hit counts for auditing. The corpus text carries no
    * PII, so the query SEEDS deterministic PII derived from doc_id into
    * the text first — both engines build the identical input, then the
    * redaction itself is verified by hash. Pure map, no shuffle.
    */
  val q44 = QueryDef(
    "q44_pii_redaction",
    (s, dir) => {
      import s.implicits._
      val seeded = docs(s, dir).select(
        $"doc_id",
        concat($"text",
          lit(" contact user"), $"doc_id".cast("string"), lit("@example.com"),
          lit(" from 10.0."), pmod($"doc_id", lit(256L)).cast("string"), lit(".7"),
          lit(" call +1-555-"), lpad(pmod($"doc_id", lit(10000L)).cast("string"), 4, "0"))
          .as("seeded"))
      seeded.select(
        $"doc_id",
        size(regexp_extract_all($"seeded", lit(T.EmailRe), lit(0))).cast("long").as("n_email"),
        size(regexp_extract_all($"seeded", lit(T.Ipv4Re), lit(0))).cast("long").as("n_ip"),
        T.redactPii($"seeded").as("redacted"))
        .withColumn("clean",
          !$"redacted".rlike(T.EmailRe) && !$"redacted".rlike(T.Ipv4Re) &&
            !$"redacted".rlike(T.PhoneRe))
    },
    Some(s"""
      WITH seeded AS (
        SELECT doc_id,
          text || ' contact user' || doc_id || '@example.com from 10.0.' ||
            (doc_id % 256) || '.7 call +1-555-' ||
            lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS seeded
        FROM documents
      ), red AS (
        SELECT doc_id,
          CAST(len(regexp_extract_all(seeded, '${T.EmailRe}')) AS BIGINT) AS n_email,
          CAST(len(regexp_extract_all(seeded, '${T.Ipv4Re}')) AS BIGINT) AS n_ip,
          regexp_replace(regexp_replace(regexp_replace(seeded,
            '${T.EmailRe}', '<EMAIL>', 'g'),
            '${T.Ipv4Re}', '<IP>', 'g'),
            '${T.PhoneRe}', '<PHONE>', 'g') AS redacted
        FROM seeded
      )
      SELECT doc_id, n_email, n_ip, redacted,
        NOT (regexp_matches(redacted, '${T.EmailRe}') OR
             regexp_matches(redacted, '${T.Ipv4Re}') OR
             regexp_matches(redacted, '${T.PhoneRe}')) AS clean
      FROM red"""))

  /** Histogram quantile sketch — the third mergeable sketch next to KMV
    * (q39) and Count-Min (q41): 1024 equi-width bins over
    * l_extendedprice, quantiles read off the cumulative bin counts.
    * Unlike GK/t-digest the state is arrival-order-independent, so the
    * oracle reproduces every bin and estimate exactly; error is bounded
    * by one bin width (±~102) on the value axis. The bin table is the
    * sketch: 1024 longs whatever the input size, merged by adding.
    */
  val q46 = QueryDef(
    "q46_histogram_quantiles",
    (s, dir) => {
      import s.implicits._
      val bins = graft.functions.Sketches.histogramBins(
        Tables.load(s, dir, "lineitem"), $"l_extendedprice",
        lo = 900.0, hi = 105000.0, buckets = 1024)
      graft.functions.Sketches.histogramQuantiles(
        bins, lo = 900.0, hi = 105000.0, buckets = 1024, qs = Seq(0.5, 0.95, 0.99))
    },
    Some("""
      WITH v AS (
        SELECT CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem
      ), bins AS (
        SELECT LEAST(GREATEST(CAST(floor((v - 900.0) / ((105000.0 - 900.0) / 1024)) AS BIGINT),
                              0), 1023) AS bin,
               COUNT(*) AS c
        FROM v GROUP BY 1
      ), cum AS (
        SELECT bin, SUM(c) OVER (ORDER BY bin) AS cum, SUM(c) OVER () AS total FROM bins
      )
      SELECT
        900.0 + (MIN(CASE WHEN cum >= ceil(0.50 * total) THEN bin END) + 1)
          * ((105000.0 - 900.0) / 1024) AS p50,
        900.0 + (MIN(CASE WHEN cum >= ceil(0.95 * total) THEN bin END) + 1)
          * ((105000.0 - 900.0) / 1024) AS p95,
        900.0 + (MIN(CASE WHEN cum >= ceil(0.99 * total) THEN bin END) + 1)
          * ((105000.0 - 900.0) / 1024) AS p99
      FROM cum"""))

  /** Streaming exact dedup, oracle-gated — the continuous twin of q13
    * run over the SAME corpus through a REAL file stream: the documents
    * parquet is read with `readStream`, deduplicated by the production
    * plan ([[graft.streaming.Streams.dedupExact]]: watermark +
    * `dropDuplicatesWithinWatermark`, bounded state), drained with an
    * AvailableNow trigger into an append-only parquet table
    * (exactly-once via the checkpoint), and the gate compares that
    * TABLE's fingerprint multiset to the batch answer. The output is the
    * per-fingerprint row count of the deduped table — 1 for every
    * distinct content — so the check is arrival-order-independent even
    * on a corpus with exact duplicates (which survivor doc a stream
    * keeps depends on arrival; that one row per content survives does
    * not).
    */
  val q48 = QueryDef(
    "q48_streaming_dedup",
    (s, dir) => {
      val base = graft.util.TempDirs.scratch("q48stream")
      // source-sized state layout at stream birth (r16) — see q54
      val s2 = graft.streaming.Streams.statefulSession(s,
        graft.streaming.Streams.derivedStatePartitions(s,
          graft.streaming.Streams.dirBytes(s"$dir/documents.parquet")))
      import s2.implicits._
      val schema = s2.read.parquet(s"$dir/documents.parquet").schema
      // the stream source wants a DIRECTORY; the sf dir + a glob filter
      // selects the single documents file (testdata tables are one file)
      val stream = s2.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
        .withColumn("ts", lit("2026-01-01 00:00:00").cast("timestamp"))
      val q = graft.streaming.Streams.dedupExact(stream)
        .select($"doc_id", $"fingerprint")
        .writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(s"$base/out")
        .groupBy($"fingerprint").agg(count(lit(1)).as("n"))
    },
    Some("""
      SELECT DISTINCT
        md5(array_to_string(regexp_split_to_array(trim(lower(text)), '\s+'), ' ')) AS fingerprint,
        CAST(1 AS BIGINT) AS n
      FROM documents"""))

  /** Streaming signature stage, oracle-gated — the continuous twin of
    * q14/q19: documents stream through tokens → shingles → hash32 →
    * native MinHash/SimHash kernels
    * ([[graft.streaming.Streams.signatureStream]], map-only, zero
    * state) into an append-only signature table, and the gate compares
    * that TABLE's signatures to the batch math. Map-only streams are
    * fully deterministic (no watermark, no state, no arrival-order
    * dependence), so the whole signature row is hash-comparable — the
    * strongest possible streaming gate.
    */
  val q49 = QueryDef(
    "q49_streaming_signatures",
    (s, dir) => {
      import s.implicits._
      val base = graft.util.TempDirs.scratch("q49stream")
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      val stream = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
        .withColumn("ts", lit("2026-01-01 00:00:00").cast("timestamp"))
      val sq = graft.streaming.Streams.signatureStream(stream, s"$base/out", s"$base/ckpt")
      sq.processAllAvailable()
      sq.stop()
      s.read.parquet(s"$base/out").select(
        $"doc_id",
        element_at($"sig", 1).as("mh_0"),
        element_at($"sig", 12).as("mh_11"),
        $"simhash")
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
      ), sh AS (
        SELECT doc_id,
          CASE WHEN len(t) >= 3 THEN
            list_distinct(list_transform(generate_series(1, len(t)-2),
              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
          ELSE [] END AS shingles
        FROM toks
      ), hs AS (
        SELECT doc_id, list_transform(shingles,
          s -> CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)) AS hashes
        FROM sh
      ), sig AS (
        SELECT doc_id,
          list_transform(generate_series(0, 11), k ->
            list_min(list_transform(hashes,
              h -> ((2*k+1)*h + k*12582917) % 4294967311))) AS sig
        FROM hs
      ), bits AS (
        SELECT doc_id, hashes,
          list_transform(generate_series(0,31), i ->
            CAST(len(list_filter(hashes, h -> (h // CAST(round(2**i) AS BIGINT)) % 2 = 1)) AS BIGINT)) AS ones
        FROM hs
      ), sh2 AS (
        SELECT doc_id,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(generate_series(0,31), i ->
              CASE WHEN ones[i+1] * 2 > len(hashes) THEN CAST(round(2**i) AS BIGINT) ELSE 0 END)),
            (a,b) -> a+b) AS simhash
        FROM bits
      )
      SELECT s.doc_id, s.sig[1] AS mh_0, s.sig[12] AS mh_11, sh2.simhash
      FROM sig s JOIN sh2 USING (doc_id)"""))

  /** Streaming windowed counts, oracle-gated — the continuous twin of
    * the per-window timeline aggregations: events stream through a
    * watermarked 1-hour tumbling window in APPEND mode, so only windows
    * the watermark has CLOSED are emitted (late data bounded, state
    * bounded — the 100 TB contract). The oracle recomputes exactly that
    * subset relationally: per-window counts where `window_end <=
    * max(ts) - watermark`, which is the final watermark of a drained
    * AvailableNow run. Trailing open windows are withheld by design —
    * the semantic difference between a streaming append aggregation and
    * its batch twin, pinned by the gate instead of papered over.
    */
  val q54 = QueryDef(
    "q54_streaming_windowed_counts",
    (s, dir) => {
      import s.implicits._
      val base = graft.util.TempDirs.scratch("q54stream")
      // state partitions sized to the SOURCE at stream birth (r16,
      // VERDICT r15 next #4): the window-keyed state store otherwise
      // boots one instance per session shuffle partition per drain —
      // see Streams.derivedStatePartitions for the scale argument
      val s2 = graft.streaming.Streams.statefulSession(s,
        graft.streaming.Streams.derivedStatePartitions(s,
          graft.streaming.Streams.dirBytes(s"$dir/events.parquet")))
      val stream = Tables.eventsStream(s2, dir)
      val q = graft.streaming.Streams.windowedCounts(stream)
        .writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // explicit schema: an append sink that emitted nothing has no part
      // files, and schema inference would throw instead of comparing
      // empty-to-empty
      s.read.schema("window_start TIMESTAMP, event_type STRING, n BIGINT")
        .parquet(s"$base/out")
        .select(QueryDef.ntz($"window_start").as("window_start"), $"event_type", $"n")
    },
    Some("""
      WITH e AS (
        SELECT CAST(ts AS TIMESTAMP) AS ts, event_type FROM events
      ), agg AS (
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
               event_type, COUNT(*) AS n
        FROM e GROUP BY 1, 2
      ), wm AS (
        SELECT max(ts) - INTERVAL 30 MINUTE AS w FROM e
      )
      SELECT a.window_start, a.event_type, a.n
      FROM agg a, wm
      WHERE a.window_start + INTERVAL 1 HOUR <= wm.w"""))

  /** Streaming stateful sessionization, oracle-gated — the
    * `flatMapGroupsWithState` path (custom per-user state + event-time
    * timeout, the one shape the DataFrame API can't express) run over
    * the events corpus as a file stream. Emitted = CLOSED sessions
    * only: closed by a gap (a later event > 30 min after the session's
    * last) or by the event-time timeout once the final watermark
    * (max ts − 30 min) passes `last + gap`. The oracle recomputes the
    * q12 session assignment relationally and applies exactly that
    * closure condition; still-open trailing sessions are withheld by
    * design. The single-file source drains as ONE data batch (+ the
    * no-data flush batch), so emission is deterministic.
    */
  val q55 = QueryDef(
    "q55_streaming_sessions",
    (s, dir) => {
      val base = graft.util.TempDirs.scratch("q55stream")
      // source-sized state layout at stream birth (r16) — see q54
      val s2 = graft.streaming.Streams.statefulSession(s,
        graft.streaming.Streams.derivedStatePartitions(s,
          graft.streaming.Streams.dirBytes(s"$dir/events.parquet")))
      import s2.implicits._
      val stream = Tables.eventsStream(s2, dir)
        .select($"user_id", $"ts", $"event_type", $"value")
        .as[graft.streaming.Streams.Event]
      val q = graft.streaming.Streams.sessionize(stream)
        .filter(_.closed)
        .toDF()
        .writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // SessionUpdate carries java.sql.Timestamp, whose getTime-based
      // state is millisecond-precision; compare starts as epoch millis.
      // Explicit schema so a zero-closed-sessions run reads as empty
      // instead of failing parquet schema inference.
      s.read.schema(
        "user_id BIGINT, session_start TIMESTAMP, n_events BIGINT, closed BOOLEAN")
        .parquet(s"$base/out")
        .groupBy($"user_id", unix_millis($"session_start").as("session_start_ms"))
        .agg(max($"n_events").as("n_events"))
    },
    Some("""
      WITH e AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
      ), flagged AS (
        SELECT user_id, ts,
          CASE WHEN lag(ts) OVER w IS NULL
                 OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_s
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
      ), sess AS (
        SELECT user_id, ts,
          SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM flagged
      ), agg AS (
        SELECT user_id, sid, MIN(ts) AS session_start, MAX(ts) AS last_ts,
               COUNT(*) AS n_events
        FROM sess GROUP BY 1, 2
      ), wm AS (
        SELECT max(ts) - INTERVAL 30 MINUTE AS w FROM e
      )
      SELECT a.user_id, epoch_ms(a.session_start) AS session_start_ms, a.n_events
      FROM agg a, wm
      WHERE a.sid < (SELECT max(sid) FROM agg a2 WHERE a2.user_id = a.user_id)
         OR a.last_ts + INTERVAL 30 MINUTE < wm.w""")
  )

  /** q55's sessionization through the state-v2 path, oracle-gated
    * (VERDICT r6 missing #3): `sessionizeAuto` silently selects the
    * Spark-4 `transformWithState` / `SessionProcessor` implementation on
    * a RocksDB-configured session, so the path that ships on a
    * production cluster must be the path the oracle hashes — not just
    * equivalence-tested against the v1 fixture. A CLONED session carries
    * the RocksDB provider conf (the v2 backend requirement) so the
    * shared session's other streaming gates keep their default
    * HDFS-backed store; the gate then REQUIRES that the auto-selector
    * actually picked v2 before running. Same corpus, emission contract,
    * and oracle as q55 — a divergence between the two state backends
    * breaks this hash while q55 stays green, which is exactly the
    * signal wanted.
    */
  val q66 = QueryDef(
    "q66_streaming_sessions_v2",
    (s, dir) => {
      // source-sized state layout at stream birth (r16) — see q54; the
      // RocksDB store pays per-instance boot/commit per drain, so the
      // bound matters even more than for the HDFS-backed twin
      val s2 = graft.streaming.Streams.rocksDbSession(s,
        statePartitions = Some(graft.streaming.Streams.derivedStatePartitions(s,
          graft.streaming.Streams.dirBytes(s"$dir/events.parquet"))))
      require(graft.streaming.Streams.stateV2Ready(s2),
        "state-v2 gate needs Spark 4+ with the RocksDB state store provider")
      import s2.implicits._
      val base = graft.util.TempDirs.scratch("q66stream")
      val stream = Tables.eventsStream(s2, dir)
        .select($"user_id", $"ts", $"event_type", $"value")
        .as[graft.streaming.Streams.Event]
      val q = graft.streaming.Streams.sessionizeAuto(stream)
        .filter(_.closed)
        .toDF()
        .writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.schema(
        "user_id BIGINT, session_start TIMESTAMP, n_events BIGINT, closed BOOLEAN")
        .parquet(s"$base/out")
        .groupBy(col("user_id"), unix_millis(col("session_start")).as("session_start_ms"))
        .agg(max(col("n_events")).as("n_events"))
    },
    Some("""
      WITH e AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
      ), flagged AS (
        SELECT user_id, ts,
          CASE WHEN lag(ts) OVER w IS NULL
                 OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_s
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
      ), sess AS (
        SELECT user_id, ts,
          SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM flagged
      ), agg AS (
        SELECT user_id, sid, MIN(ts) AS session_start, MAX(ts) AS last_ts,
               COUNT(*) AS n_events
        FROM sess GROUP BY 1, 2
      ), wm AS (
        SELECT max(ts) - INTERVAL 30 MINUTE AS w FROM e
      )
      SELECT a.user_id, epoch_ms(a.session_start) AS session_start_ms, a.n_events
      FROM agg a, wm
      WHERE a.sid < (SELECT max(sid) FROM agg a2 WHERE a2.user_id = a.user_id)
         OR a.last_ts + INTERVAL 30 MINUTE < wm.w""")
  )

  /** Fuzzy string matching — edit-distance pairs over the SAME banded
    * blocking as q15: MinHash-LSH proposes candidates (bounded fan-in,
    * never all-pairs), then exact Levenshtein on the normalized text
    * scores them — the fuzzy-join shape (record linkage, title/author
    * matching) where token-set Jaccard is too coarse. Levenshtein is
    * O(len²) per PAIR, which is precisely why it must never run
    * all-pairs; after blocking it touches candidates only. Both engines
    * ship the identical unit-cost DP, so the distances hash-match.
    */
  val q57 = QueryDef(
    "q57_fuzzy_pairs",
    (s, dir) => {
      import s.implicits._
      val sig = hashedShingles(s, dir)
        .filter(size($"shingles") > 0)
        .withColumn("sig", T.minhashFromHashes($"hashes", K))
        .select($"doc_id", $"sig")
        .persist()
      val pairs = candidatePairs(bandFrame(sig))
      val txt = docs(s, dir).select($"doc_id", trim(lower($"text")).as("norm"))
      pairs
        .join(txt.select($"doc_id".as("doc_a"), $"norm".as("na")), "doc_a")
        .join(txt.select($"doc_id".as("doc_b"), $"norm".as("nb")), "doc_b")
        .select($"doc_a", $"doc_b",
          levenshtein($"na", $"nb").cast("long").as("lev"),
          (lit(1.0) - levenshtein($"na", $"nb").cast("double") /
            greatest(length($"na"), length($"nb")).cast("double")).as("sim"))
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
      ), sh AS (
        SELECT doc_id,
          CASE WHEN len(t) >= 3 THEN
            list_distinct(list_transform(generate_series(1, len(t)-2),
              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
          ELSE [] END AS shingles
        FROM toks
      ), sig AS (
        SELECT doc_id,
          list_transform(generate_series(0, 11), k ->
            list_min(list_transform(
              list_transform(shingles, s -> CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)),
              h -> ((2*k+1)*h + k*12582917) % 4294967311))) AS sig
        FROM sh WHERE len(shingles) > 0
      ), bands AS (
        SELECT doc_id, b,
          md5(array_to_string(sig[(3*b+1):(3*b+3)], ',')) AS band_key
        FROM sig, (SELECT unnest(generate_series(0,3)) AS b)
      ), pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.b = b.b AND a.band_key = b.band_key AND a.doc_id < b.doc_id
      ), txt AS (
        SELECT doc_id, trim(lower(text)) AS norm FROM documents
      )
      SELECT p.doc_a, p.doc_b,
        CAST(levenshtein(ta.norm, tb.norm) AS BIGINT) AS lev,
        1.0 - CAST(levenshtein(ta.norm, tb.norm) AS DOUBLE) /
          CAST(GREATEST(len(ta.norm), len(tb.norm)) AS DOUBLE) AS sim
      FROM pairs p
      JOIN txt ta ON ta.doc_id = p.doc_a
      JOIN txt tb ON tb.doc_id = p.doc_b"""))

  /** Text normalization — the cleanup stage ahead of every fingerprint/
    * tokenize pass, gated on deterministically DIRTIED input: the corpus
    * text is seeded with upper-case prefixes, tabs, newlines and runs of
    * spaces (both engines build the identical dirty string), then
    * [[graft.functions.TextFunctions.normalizeText]] must produce a
    * byte-identical clean form (verified via md5). Pure map, no shuffle.
    */
  val q58 = QueryDef(
    "q58_text_normalize",
    (s, dir) => {
      import s.implicits._
      val dirty = docs(s, dir).select(
        $"doc_id",
        concat(upper(substring($"text", 1, 12)), lit("\t  "), $"text",
          lit("  trailing"), lit("\n"), lit(" ")).as("dirty"))
      dirty.select(
        $"doc_id",
        T.normalizeText($"dirty").as("clean"))
        .select($"doc_id", md5($"clean").as("clean_md5"),
          length($"clean").cast("long").as("n_chars"))
    },
    Some("""
      WITH dirty AS (
        SELECT doc_id,
          upper(substr(text, 1, 12)) || chr(9) || '  ' || text ||
            '  trailing' || chr(10) || ' ' AS dirty
        FROM documents
      ), clean AS (
        SELECT doc_id,
          trim(regexp_replace(regexp_replace(lower(dirty), '[\x00-\x1f]', ' ', 'g'),
            '\s+', ' ', 'g')) AS clean
        FROM dirty
      )
      SELECT doc_id, md5(clean) AS clean_md5,
             CAST(length(clean) AS BIGINT) AS n_chars
      FROM clean"""))

  /** Deterministic train/val/test split — hash-based assignment (NOT
    * `TABLESAMPLE`, which is seed/partitioning-dependent): the doc id's
    * 32-bit hash mod 100 buckets 80/10/10. Reproducible on any engine,
    * any partitioning, any rerun — the property a training-data split
    * must have so a doc never migrates between splits across corpus
    * rebuilds. Pure map.
    */
  val q59 = QueryDef(
    "q59_hash_split",
    (s, dir) => graft.operators.Assembly.hashSplit(docs(s, dir)),
    Some("""
      SELECT doc_id, source,
        CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 80
               THEN 'train'
             WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 90
               THEN 'val'
             ELSE 'test' END AS split
      FROM documents"""))

  /** Per-source quality top-k — the "keep the best N per domain"
    * curation filter: rank by the q18 quality score within each source,
    * keep 5; ties break on doc_id so the selection is total-order
    * deterministic. The Zipf-skew verdict on this shape (r13, VERDICT
    * wrong #1) resolves the SPARK-FIRST way: Catalyst's
    * `InferWindowGroupLimit` already rewrites a rank-filtered window
    * into a two-stage top-k — a map-side `WindowGroupLimit(Partial)`
    * emits ≤ k rows per source per task BEFORE the shuffle, so the hot
    * stratum's reduce-side input is ≤ k·numMapTasks rows, exactly the
    * salted candidate set [[graft.operators.TopK.perKey]] hand-builds
    * (measured parity on the 80%-hot corpus, FANIN.md r13; the rewrite
    * is pinned by PlanAuditSpec so a filter refactor that breaks the
    * `rnk <= k` adjacency fails the build, and TopK.perKey stays the
    * explicit form for rank windows the rewrite can't reach).
    */
  val q60 = QueryDef(
    "q60_quality_topk",
    (s, dir) => {
      import s.implicits._
      val scored = docs(s, dir).select(
        $"doc_id", $"source", T.qualityScore($"text").as("quality_score"))
      val w = Window.partitionBy($"source")
        .orderBy($"quality_score".desc, $"doc_id")
      scored.withColumn("rnk", row_number().over(w).cast("long"))
        .filter($"rnk" <= 5)
    },
    Some("""
      WITH base AS (
        SELECT doc_id, source,
          regexp_split_to_array(trim(lower(text)), '\s+') AS t,
          CAST(length(text) AS BIGINT) AS n_chars_c,
          CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct
        FROM documents
      ), sig AS (
        SELECT doc_id, source, n_chars_c, n_punct,
          CAST(len(t) AS BIGINT) AS n_tokens,
          CAST(len(list_filter(t, x -> list_contains(['the','and','of','to','a','in','is','der','die','und','das','ist','ein','el','la','de','que','y','es'], x))) AS BIGINT) AS stop_hits
        FROM base
      ), scored AS (
        SELECT doc_id, source,
          least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.5
            + least(CAST(stop_hits AS DOUBLE) / n_tokens * 4.0, 1.0) * 0.5
            - least(CAST(n_punct AS DOUBLE) / n_chars_c * 5.0, 1.0) * 0.25 AS quality_score
        FROM sig
      )
      SELECT doc_id, source, quality_score, rnk FROM (
        SELECT *, CAST(row_number() OVER (
          PARTITION BY source ORDER BY quality_score DESC, doc_id) AS BIGINT) AS rnk
        FROM scored)
      WHERE rnk <= 5"""))

  /** Token-budget sequence packing — pre-training prep: per source,
    * documents (in stable doc_id order) are greedily packed into
    * ~4096-token sequences; a doc belongs to the pack its FIRST token
    * lands in (cumulative-sum bucketing), a pure function of the
    * ordered prefix sums, so it is reproducible across engines and
    * reruns. The running sum goes through [[graft.operators.PrefixSum
    * .perKey]] (r13, VERDICT wrong #1): the bare per-source unbounded
    * window serializes each stratum into one task — the two-pass
    * bucketed form (quantile buckets on doc_id, per-bucket partials,
    * cross-bucket offsets, within-bucket window) spreads a Zipf-hot
    * source over 64 tasks and is bit-identical because long addition is
    * associative.
    */
  val q61 = QueryDef(
    "q61_token_packing",
    (s, dir) => graft.operators.Assembly.tokenPack(docs(s, dir)),
    Some("""
      WITH toks AS (
        SELECT doc_id, source,
          CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) AS n_tokens
        FROM documents
      ), cum AS (
        SELECT doc_id, source, n_tokens,
          SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM toks
      )
      SELECT doc_id, source, n_tokens,
             CAST((cum - n_tokens) // 4096 AS BIGINT) AS pack_id
      FROM cum"""))

  /** Deterministic shard shuffle over the packed corpus (r13 — the
    * assembly tail's LAST stage, [[graft.operators.Assembly
    * .shardShuffle]]): every pack lands in a hash-chosen shard at a
    * hash-ordered position, so the trainer's read order is
    * decorrelated from (source, pack_id) construction order yet a pure
    * function of the data — rerun-, engine- and cluster-size-stable.
    * The oracle recomposes packing (q61's CTE) and the placement
    * (md5-prefix hash, mod-8 shard, rank by (hash, source, pack_id)
    * within shard) entirely in DuckDB, so a hash mismatch catches any
    * nondeterminism — the exact failure mode `rand()`-based shuffles
    * ship and this operator exists to exclude.
    */
  val q115 = QueryDef(
    "q115_shard_shuffle",
    (s, dir) => graft.operators.Assembly.shardShuffle(
      graft.operators.Assembly.tokenPack(docs(s, dir)), nShards = 8),
    Some("""
      WITH toks AS (
        SELECT doc_id, source,
          CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) AS n_tokens
        FROM documents
      ), cum AS (
        SELECT doc_id, source, n_tokens,
          SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM toks
      ), packed AS (
        SELECT doc_id, source, n_tokens,
               CAST((cum - n_tokens) // 4096 AS BIGINT) AS pack_id
        FROM cum
      ), packs AS (
        SELECT source, pack_id,
          CAST('0x' || substr(md5(source || ':' || CAST(pack_id AS VARCHAR)), 1, 8)
            AS BIGINT) AS h
        FROM (SELECT DISTINCT source, pack_id FROM packed)
      ), placed AS (
        SELECT source, pack_id, h % 8 AS shard,
          CAST(ROW_NUMBER() OVER (PARTITION BY h % 8
            ORDER BY h, source, pack_id) AS BIGINT) - 1 AS shard_pos
        FROM packs
      )
      SELECT p.doc_id, p.source, p.n_tokens, p.pack_id, d.shard, d.shard_pos
      FROM packed p JOIN placed d USING (source, pack_id)"""))

  /** Streaming drop-folder ingest, oracle-gated (VERDICT r9 missing #3 —
    * the last test-only §2.6 row): the S3 TRANSFER step as a continuous
    * pipeline ([[graft.streaming.Streams.fileIngest]], reference
    * `code/DIZService.Core/Helper.cs` file lifecycle recast on
    * `cleanSource=archive`). The gate drops three CSV files — the 25-row
    * `nation` dimension split by key mod 3, fixture generation, not a
    * data path — into a watch folder, drains the stream with an
    * AvailableNow trigger (the bounded-catch-up mode of the same
    * always-on pipeline), and reads back the ingested parquet table.
    * Deterministic columns only: the data columns plus `dateiname`
    * (file names are fixed by the mod-3 split) and the constant
    * `datenproduzent`; `exportdatum` is wall-clock and stays out of the
    * gate. The oracle reproduces the table straight from `nation` — the
    * ingest must be exactly-once (each row lands once, from the right
    * file) for the hash to match.
    */
  val q78 = QueryDef(
    "q78_streaming_file_ingest",
    (s, dir) => {
      Tables.registerAll(s, dir)
      val base = java.nio.file.Paths.get(graft.util.TempDirs.scratch("q78stream"))
      val in = base.resolve("Insert")
      java.nio.file.Files.createDirectories(in)
      val rows = s.table("nation")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .collect().toSeq // 25-row dimension — fixture generation, not a data path
      (0 until 3).foreach { b =>
        val body = rows.filter(_.getInt(0) % 3 == b)
          .sortBy(_.getInt(0))
          .map(r => s"${r.getInt(0)},${r.getString(1)},${r.getInt(2)}")
          .mkString("n_nationkey,n_name,n_regionkey\n", "\n", "\n")
        java.nio.file.Files.writeString(in.resolve(s"part$b.csv"), body)
      }
      val q = graft.streaming.Streams.fileIngest(
        s, in.toString,
        org.apache.spark.sql.types.StructType.fromDDL(
          "n_nationkey INT, n_name STRING, n_regionkey INT"),
        s"$base/out", s"$base/ckpt", s"$base/archive",
        trigger = Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()))
      q.awaitTermination()
      s.read.parquet(s"$base/out")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"),
          col("dateiname"), col("datenproduzent"))
    },
    Some("""
      SELECT n_nationkey, n_name, n_regionkey,
             'part' || CAST(n_nationkey % 3 AS VARCHAR) || '.csv' AS dateiname,
             'graft' AS datenproduzent
      FROM nation"""))

  /** JSONL drop-folder ingest (r14) — q78's TRANSFER pipeline over the
    * interchange format raw training-data drops actually arrive in:
    * one JSON object per line, declared schema (inference stays off —
    * a malformed drop must not widen the table), same audit columns,
    * archive lifecycle, and exactly-once sink commit log. Fixture: the
    * `documents` corpus split across three `.jsonl` files by
    * `doc_id % 3`; the oracle recomputes every column INCLUDING the
    * audit `dateiname` from the parquet table, so a row ingested from
    * the wrong file, twice, or with JSON-mangled text breaks the hash
    * (the synthetic corpus has no chars needing JSON escapes beyond
    * the quote/backslash the fixture writer handles).
    */
  val q122 = QueryDef(
    "q122_jsonl_ingest",
    (s, dir) => {
      Tables.registerAll(s, dir)
      val base = java.nio.file.Paths.get(graft.util.TempDirs.scratch("q122stream"))
      val in = base.resolve("Insert")
      java.nio.file.Files.createDirectories(in)
      def js(v: String): String =
        "\"" + v.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      val rows = s.table("documents")
        .select(col("doc_id"), col("lang"), col("text"))
        .collect().toSeq // sf0.01 fixture generation, not a data path
      (0 until 3).foreach { b =>
        val body = rows.filter(_.getLong(0) % 3 == b)
          .sortBy(_.getLong(0))
          .map(r => s"""{"doc_id":${r.getLong(0)},"lang":${js(r.getString(1))},"text":${js(r.getString(2))}}""")
          .mkString("", "\n", "\n")
        java.nio.file.Files.writeString(in.resolve(s"docs$b.jsonl"), body)
      }
      val q = graft.streaming.Streams.fileIngest(
        s, in.toString,
        org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id BIGINT, lang STRING, text STRING"),
        s"$base/out", s"$base/ckpt", s"$base/archive",
        trigger = Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()),
        sourceFormat = "jsonl")
      q.awaitTermination()
      s.read.parquet(s"$base/out")
        .select(col("doc_id"), col("lang"), col("text"),
          col("dateiname"), col("datenproduzent"))
    },
    Some("""
      SELECT doc_id, lang, text,
             'docs' || CAST(doc_id % 3 AS VARCHAR) || '.jsonl' AS dateiname,
             'graft' AS datenproduzent
      FROM documents"""))

  /** Incremental near-dup admission (r14) — the MinHash twin of q89's
    * bloom incremental dedup: a new batch (`doc_id % 4 = 0`) is
    * admitted against the HISTORIC corpus's persisted signature table
    * (`NearDup.signatures` over the other residues) without ever
    * recomputing the history — band probe + exact shingle-Jaccard
    * confirm at τ = 0.6, candidates only. At sf0.01 the fixture rejects
    * 6 of 125 batch docs through 9 cross-split candidates (DuckDB
    * probe), so the admit rule, the confirm threshold, and the
    * candidate telemetry are all load-bearing in the hash. Scale shape:
    * the historic table is scanned twice (bands, confirm shingles) past
    * broadcasts of batch-sized frames — zero historic shuffles, the
    * bloom-confirm direction applied to text near-dup.
    */
  val q123 = QueryDef(
    "q123_incremental_neardup",
    (s, dir) => {
      import s.implicits._
      val d = docs(s, dir)
      // the historic side is a PERSISTED table in production (the
      // operator scans it twice — bands, confirm shingles); the gate
      // persists its live computation to model that, or both scans
      // would recompute the corpus minhash (registry clearCache releases)
      graft.operators.NearDup.admitAgainst(
        d.filter($"doc_id" % 4 === 0),
        graft.operators.NearDup.signatures(d.filter($"doc_id" % 4 =!= 0)).persist())
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
      ), sig AS (
        SELECT doc_id, shingles,
          list_transform(generate_series(0, 11), k ->
            list_min(list_transform(
              list_transform(shingles, s -> CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)),
              h -> ((2*k+1)*h + k*12582917) % 4294967311))) AS sig
        FROM (
          SELECT doc_id, CASE WHEN len(t) >= 3 THEN
              list_distinct(list_transform(generate_series(1, len(t)-2),
                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
            ELSE [] END AS shingles
          FROM toks) WHERE len(shingles) > 0
      ), bands AS (
        SELECT doc_id, shingles, b,
          md5(array_to_string(sig[(3*b+1):(3*b+3)], ',')) AS band_key
        FROM sig, (SELECT unnest(generate_series(0,3)) AS b)
      ), cand AS (
        SELECT n.doc_id AS nd, h.doc_id AS hd,
          any_value(n.shingles) AS sh_n, any_value(h.shingles) AS sh_h
        FROM bands n JOIN bands h ON n.b = h.b AND n.band_key = h.band_key
        WHERE n.doc_id % 4 = 0 AND h.doc_id % 4 <> 0
        GROUP BY 1, 2
      ), rej AS (
        SELECT DISTINCT nd FROM cand
        WHERE CAST(len(list_intersect(sh_n, sh_h)) AS DOUBLE) /
          CAST(len(list_distinct(list_concat(sh_n, sh_h))) AS DOUBLE) >= 0.6
      ), nc AS (
        SELECT nd, count(*) AS n FROM cand GROUP BY 1
      )
      SELECT d.doc_id, CAST(COALESCE(nc.n, 0) AS BIGINT) AS n_hist_candidates
      FROM (SELECT doc_id FROM documents WHERE doc_id % 4 = 0) d
      LEFT JOIN nc ON nc.nd = d.doc_id
      WHERE d.doc_id NOT IN (SELECT nd FROM rej)"""))

  /** Benchmark decontamination — the n-gram-overlap removal every LLM
    * training corpus runs against its eval sets (the GPT-3 appendix's
    * 13-gram procedure): a corpus document is contaminated if it shares
    * any word n-gram with any benchmark document. Fixture: eval set =
    * `doc_id % 10 = 7` (a held-out tenth of `documents`), n = 4 — the
    * synthetic ~30-word vocabulary makes 13-grams never collide and
    * 3-grams collide 96% of the time; 4 puts the fixture's contamination
    * rate at a meaningful 18% with shared-gram counts up to 90. The
    * operator is n-agnostic.
    *
    * Scale shape: distinct grams are hashed ([[TextFunctions.hash32]])
    * and the EVAL side — benchmarks are tiny next to a 100 TB corpus —
    * is deduped and broadcast, so the corpus side is one map-only scan
    * plus a broadcast semi-join-shaped probe and a per-doc count; no
    * shuffle touches the corpus grams, and nothing is ever all-pairs.
    * Output keeps every corpus doc with its shared-gram count (0 =
    * clean) so the drop policy stays a downstream filter.
    */
  val q79 = QueryDef(
    "q79_decontaminate",
    // stage body lives in operators.Curation (r12) — the q103 workflow
    // steps execute the SAME implementation through graft.steps.Transforms
    (s, dir) => graft.operators.Curation.decontaminate(docs(s, dir), holdoutSlice = 7),
    Some("""
      WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
      ), g AS (
        SELECT doc_id, unnest(CASE WHEN len(t) >= 4 THEN
            list_distinct(list_transform(generate_series(1, len(t)-3),
              i -> list_aggregate(t[i:i+3], 'string_agg', ' ')))
          ELSE [] END) AS gram
        FROM toks
      ), h AS (
        SELECT doc_id, CAST('0x' || substr(md5(gram),1,8) AS BIGINT) AS gh FROM g
      ), ev AS (
        SELECT DISTINCT gh FROM h WHERE doc_id % 10 = 7
      ), hits AS (
        SELECT doc_id, CAST(count(DISTINCT gh) AS BIGINT) AS shared_grams
        FROM h JOIN ev USING (gh) WHERE doc_id % 10 != 7 GROUP BY doc_id
      )
      SELECT t.doc_id, COALESCE(hits.shared_grams, 0) AS shared_grams,
        CAST(CASE WHEN COALESCE(hits.shared_grams, 0) > 0 THEN 1 ELSE 0 END AS INT) AS contaminated
      FROM toks t LEFT JOIN hits USING (doc_id) WHERE t.doc_id % 10 != 7"""))

  /** Repetition-based quality filter — the Gopher-rules stage of corpus
    * curation: documents dominated by repeated tokens or one repeated
    * bigram are boilerplate/spam and get dropped before training.
    * Per doc: `dup_token_frac` = 1 − distinct/total tokens,
    * `top_bigram` = the most frequent word bigram (ties → lexicographic
    * smallest, so both engines agree bit-for-bit), `top_bigram_frac` =
    * its share of all bigram slots, and the keep verdict at
    * dup ≤ 0.65 ∧ top ≤ 0.08 (fixture thresholds that split the
    * synthetic corpus ~85/15; production tunes per source). Pure map —
    * one corpus scan, zero shuffle, same scale shape as q18; the
    * per-doc bigram count is O(distinct·total) inside codegen'd
    * higher-order builtins, bounded by document length, not corpus
    * size.
    */
  val q80 = QueryDef(
    "q80_repetition_filter",
    // stage body lives in operators.Curation (r12): top bigram via the
    // sorted-runs fold, O(len·log len) per doc (the distinct×filter form
    // is O(len²) — measured 3.2 s vs 1.1 s for this gate at sf0.1);
    // strict `>` keeps the lexicographically-smallest gram on ties, the
    // same verdict the relational oracle's (count DESC, gram) window
    // produces. The q103 workflow steps execute the SAME implementation.
    (s, dir) => graft.operators.Curation.repetitionStats(docs(s, dir)),
    Some("""
      -- The fold is expressed RELATIONALLY (unnest -> group -> window)
      -- rather than as nested list lambdas: DuckDB 1.0.0 mis-evaluates a
      -- list_filter that captures the variable of an enclosing
      -- list_transform when the query runs over many rows (verified:
      -- same fold, WHERE doc_id=100 -> correct, full table -> a gram's
      -- count counted against the wrong row's list). The relational
      -- shape has no cross-lambda capture to get wrong.
      WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
      ), base AS (
        SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n_tokens,
          CASE WHEN len(t) >= 2 THEN
            list_transform(generate_series(1, len(t)-1), i -> t[i] || ' ' || t[i+1])
          ELSE [] END AS bg
        FROM toks
      ), stats AS (
        SELECT doc_id, n_tokens, CAST(len(bg) AS BIGINT) AS n_bg,
          CASE WHEN n_tokens > 0
            THEN 1.0 - CAST(len(list_distinct(t)) AS DOUBLE) / n_tokens ELSE 0.0 END AS dup_token_frac
        FROM base
      ), cnts AS (
        SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT doc_id, unnest(bg) AS g FROM base) GROUP BY doc_id, g
      ), top AS (
        SELECT doc_id, g, c FROM (
          SELECT doc_id, g, c,
            row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g) AS rn
          FROM cnts) WHERE rn = 1
      )
      SELECT s.doc_id, s.n_tokens, s.dup_token_frac,
        COALESCE(top.g, '') AS top_bigram,
        CASE WHEN s.n_bg > 0 THEN CAST(top.c AS DOUBLE) / s.n_bg ELSE 0.0 END AS top_bigram_frac,
        CAST(CASE WHEN s.dup_token_frac <= 0.65
                   AND (CASE WHEN s.n_bg > 0 THEN CAST(top.c AS DOUBLE) / s.n_bg ELSE 0.0 END) <= 0.08
             THEN 1 ELSE 0 END AS INT) AS keep_doc
      FROM stats s LEFT JOIN top USING (doc_id)"""))

  /** Temperature-scaled language-mixture weights with per-doc repeat
    * counts — the data-mixing step of a multilingual training run
    * (public recipe: sample language l proportional to count^α, α=0.5,
    * so low-resource languages are upsampled relative to their share;
    * the per-doc expected-repeat rate r_l = N·w_l/c_l is realized
    * deterministically as floor(r_l) repeats plus one more when
    * hash(doc_id) mod 1000 falls under the fractional part). All
    * arithmetic after the IEEE sqrt is EXACT: sqrt(c) is scaled by 2^20
    * (a power of two — the multiply is exact, so the floor is
    * cross-engine identical), and the per-lang base/threshold are
    * computed in arbitrary-precision BigInt on the collected lang
    * stats — a COLLECT bounded by the language cardinality (the same
    * dims-bounded class as ScalarQuant's range stats, hard-capped with
    * a loud require), NOT a data-path collect. Review finding (r10):
    * the first cut kept the rational num/den = (qv·N)/(mass·c) as
    * in-plan Longs, whose fraction cross-multiply overflows at
    * ~1e8 docs/lang — wrapping silently in non-ANSI Spark while DuckDB
    * errors, the exact divergence the gate exists to exclude. BigInt
    * on the driver cannot overflow at any corpus size; the oracle
    * mirrors in HUGEINT. Per-doc work is a broadcast lookup join on
    * lang plus one hash compare — one shuffle total (the lang groupBy).
    */
  val q81 = QueryDef(
    "q81_mixture_weights",
    (s, dir) => {
      import s.implicits._
      val epochDocs = 1000L // target docs per epoch across the mixture
      val maxLangs = 65536
      val d = docs(s, dir).select($"doc_id", $"lang")
      val langStats = d.groupBy($"lang").agg(count(lit(1)).as("c"))
        .limit(maxLangs + 1).collect()
      require(langStats.length <= maxLangs,
        s"q81: language cardinality exceeds $maxLangs — not a lang column?")
      // exact fixed-point/BigInt rate algebra lives in operators.Mixture
      // (property-tested off-cluster in MixtureSpec)
      val rates = graft.operators.Mixture
        .rates(langStats.toSeq.map(r => (r.getString(0), r.getLong(1))), epochDocs)
        .toDF("lang", "base", "thresh")
      d.join(broadcast(rates), "lang")
        .select($"doc_id", $"lang",
          ($"base" +
            when(pmod(T.hash32($"doc_id".cast("string")), lit(1000L)) < $"thresh",
              1L).otherwise(0L))
            .cast("long").as("n_repeats"))
    },
    Some("""
      WITH counts AS (
        SELECT lang, COUNT(*) AS c FROM documents GROUP BY lang
      ), q AS (
        SELECT lang, c,
          CAST(floor(sqrt(CAST(c AS DOUBLE)) * 1048576.0) AS BIGINT) AS qv
        FROM counts
      ), m AS (
        SELECT CAST(SUM(qv) AS HUGEINT) AS mass FROM q
      ), rates AS (
        SELECT lang,
          CAST(qv AS HUGEINT) * 1000 AS num,
          mass * CAST(c AS HUGEINT) AS den
        FROM q, m
      ), rt AS (
        SELECT lang,
          CAST(num // den AS BIGINT) AS base,
          CAST(((num % den) * 1000) // den AS BIGINT) AS thresh
        FROM rates
      )
      SELECT d.doc_id, d.lang,
        CAST(base +
          CASE WHEN CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 1000
                 < thresh
               THEN 1 ELSE 0 END AS BIGINT) AS n_repeats
      FROM documents d JOIN rt USING (lang)"""))

  /** Token-budget-constrained take: per source, admit docs in descending
    * quality order (ties on doc_id) until the source's token budget is
    * spent — the budgeted variant of q60's keep-best-N (rank cut vs
    * budget cut; a real mixture is specified in tokens, not docs). The
    * running sum is a per-source ROWS window — stratum-parallel, exact
    * BIGINT accumulation — and the filter keeps every doc whose
    * cumulative count stays within budget (the first overflowing doc is
    * dropped, docs after it can NOT re-enter: budget take is prefix
    * semantics, pinned by the oracle). The running sum goes through
    * [[graft.operators.PrefixSum.perKey]] (r13, VERDICT wrong #1) with
    * quality-descending quantile buckets, so a Zipf-hot source spreads
    * over 64 tasks instead of one — and `offsetCap` prunes the buckets
    * whose offset already exceeds the budget, so the never-admittable
    * corpus tail is dropped before the window touches it.
    */
  val q82 = QueryDef(
    "q82_token_budget_take",
    (s, dir) => graft.operators.Assembly.budgetTake(docs(s, dir), budget = 800L),
    Some("""
      WITH base AS (
        SELECT doc_id, source,
          regexp_split_to_array(trim(lower(text)), '\s+') AS t,
          CAST(length(text) AS BIGINT) AS n_chars_c,
          CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct
        FROM documents
      ), sig AS (
        SELECT doc_id, source,
          CAST(len(t) AS BIGINT) AS toks,
          n_chars_c, n_punct,
          CAST(len(list_filter(t, x -> list_contains(['the','and','of','to','a','in','is','der','die','und','das','ist','ein','el','la','de','que','y','es'], x))) AS BIGINT) AS stop_hits
        FROM base
      ), scored AS (
        SELECT doc_id, source, toks,
          least(CAST(toks AS DOUBLE) / 100.0, 1.0) * 0.5
            + least(CAST(stop_hits AS DOUBLE) / toks * 4.0, 1.0) * 0.5
            - least(CAST(n_punct AS DOUBLE) / n_chars_c * 5.0, 1.0) * 0.25 AS q
        FROM sig
      ), c AS (
        SELECT doc_id, source, toks,
          SUM(toks) OVER (PARTITION BY source ORDER BY q DESC, doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum_tokens
        FROM scored
      )
      SELECT doc_id, source, toks, CAST(cum_tokens AS BIGINT) AS cum_tokens
      FROM c WHERE cum_tokens <= 800"""))

  /** Corpus-global repeated-span profile — the exact-substring-dedup
    * signal (public recipe: Lee et al., "Deduplicating Training Data
    * Makes Language Models Better" — repeated long spans across
    * documents mark templated/boilerplate/duplicated text that
    * single-doc stats miss): every distinct 8-token span per doc, span
    * document-frequency over the whole corpus, per doc the distinct-span
    * count, how many of its spans recur in other docs, and the hottest
    * span's df. Distinct from q79 (overlap vs a held-out EVAL set) and
    * q80 (WITHIN-doc repetition): this is cross-doc, corpus-global.
    * Shape: one explode, one groupBy(g) for df, one equi-join back on
    * the span, one groupBy(doc) — the standard ExactSubstr profile,
    * housed in [[graft.operators.ExactSubstr]] (r11: with the
    * service-safe Staged/Managed release surface; the gate's bare form
    * is released by Verify/Bench's `clearCache()`). This gate keys on
    * the span STRING so the oracle is exact by construction; q85 runs
    * the same profile on the operator's default 128-bit hashed span key
    * (the 100 TB shuffle shape) against the SAME oracle, proving the
    * keying does not change the counts. Docs shorter than the span
    * length have no spans and are absent — the downstream filter treats
    * absence as "nothing to dedup".
    */
  val q83 = QueryDef(
    "q83_repeated_spans",
    (s, dir) =>
      graft.operators.ExactSubstr.profile(docs(s, dir), n = 8, stringKeys = true),
    Some("""
      WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
      ), sp AS (
        SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(t)-7),
          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' ||
               t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' ' || t[i+7]))) AS g
        FROM toks WHERE len(t) >= 8
      ), df AS (
        SELECT g, COUNT(*) AS df FROM sp GROUP BY g
      )
      SELECT sp.doc_id,
        CAST(COUNT(*) AS BIGINT) AS n_spans,
        CAST(SUM(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_spans,
        CAST(MAX(df.df) AS BIGINT) AS max_span_df
      FROM sp JOIN df USING (g) GROUP BY sp.doc_id"""))

  /** Exact-substring span REMOVAL — the action q83's signal feeds (Lee
    * et al. ExactSubstr: cut every occurrence of a span that repeats
    * across documents). Per doc: the merged cut-list ("start-end;…" over
    * 1-based token positions, overlap/adjacency merged), removed/kept
    * token counts, and the cleaned token stream. Semantics pinned by
    * [[graft.operators.ExactSubstr.removalWithRelease]]'s scaladoc, this
    * oracle, and the hand-readable CurationSpec fixture. The gate keys
    * spans on the string so the oracle is exact by construction;
    * CurationSpec proves the operator's default 128-bit hashed keying
    * produces the identical frame.
    */
  val q84 = QueryDef(
    "q84_span_removal",
    (s, dir) =>
      graft.operators.ExactSubstr.removal(docs(s, dir), n = 8, stringKeys = true),
    Some("""
      WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
      ), sp AS (
        SELECT doc_id, unnest(list_transform(generate_series(1, len(t)-7),
          i -> struct_pack(s := i,
            g := t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' ||
                 t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' ' || t[i+7]))) AS u
        FROM toks WHERE len(t) >= 8
      ), starts AS (
        SELECT doc_id, u.s AS s, u.g AS g FROM sp
      ), dfreq AS (
        SELECT g, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, g FROM starts) GROUP BY g
      ), hot_starts AS (
        SELECT starts.doc_id, starts.s FROM starts JOIN dfreq USING (g) WHERE dfreq.df >= 2
      ), isl AS (
        SELECT doc_id, s,
          CASE WHEN s > COALESCE(MAX(s + 7) OVER (PARTITION BY doc_id ORDER BY s
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -9) + 1
          THEN 1 ELSE 0 END AS new_isl
        FROM hot_starts
      ), isl2 AS (
        SELECT doc_id, s,
          SUM(new_isl) OVER (PARTITION BY doc_id ORDER BY s ROWS UNBOUNDED PRECEDING) AS island
        FROM isl
      ), cuts AS (
        SELECT doc_id, island, MIN(s) AS cut_start, MAX(s) + 7 AS cut_end
        FROM isl2 GROUP BY doc_id, island
      ), cutagg AS (
        SELECT doc_id, COUNT(*) AS n_cuts,
          SUM(cut_end - cut_start + 1) AS tokens_removed,
          string_agg(CAST(cut_start AS VARCHAR) || '-' || CAST(cut_end AS VARCHAR),
                     ';' ORDER BY cut_start) AS cut_list
        FROM cuts GROUP BY doc_id
      ), pos AS (
        SELECT doc_id, unnest(t) AS tok, unnest(generate_series(1, len(t))) AS i FROM toks
      ), covered AS (
        SELECT doc_id, unnest(generate_series(cut_start, cut_end)) AS i FROM cuts
      ), keptagg AS (
        SELECT p.doc_id, string_agg(p.tok, ' ' ORDER BY p.i) AS cleaned_text,
          COUNT(*) AS tokens_kept
        FROM pos p LEFT JOIN covered c ON p.doc_id = c.doc_id AND p.i = c.i
        WHERE c.i IS NULL GROUP BY p.doc_id
      )
      SELECT tk.doc_id,
        CAST(COALESCE(ca.n_cuts, 0) AS BIGINT) AS n_cuts,
        CAST(COALESCE(ca.tokens_removed, 0) AS BIGINT) AS tokens_removed,
        CAST(COALESCE(ka.tokens_kept, 0) AS BIGINT) AS tokens_kept,
        COALESCE(ca.cut_list, '') AS cut_list,
        COALESCE(ka.cleaned_text, '') AS cleaned_text
      FROM toks tk
      LEFT JOIN cutagg ca USING (doc_id)
      LEFT JOIN keptagg ka USING (doc_id)"""))

  /** q83's profile on the operator's DEFAULT 128-bit hashed span key —
    * the 100 TB shuffle shape (16 B key vs ~50 B span string through
    * the explode → distinct → groupBy → join chain), proven against the
    * SAME DuckDB oracle as the string-keyed gate: the keying changes
    * the plan's byte width, not one output row (a collision would need
    * ~2^64 distinct spans). FANIN's ×10 row measures the realized
    * shuffle-byte win.
    */
  val q85 = QueryDef(
    "q85_repeated_spans_hashed",
    (s, dir) => graft.operators.ExactSubstr.profile(docs(s, dir), n = 8),
    q83.oracle)

  /** The curation pipeline END TO END (r11 / VERDICT r10 stretch 8) —
    * the stages q79–q84 pin in isolation, composed in the order a
    * production corpus runs them, so the INTERACTION (stage order,
    * survivor counts, what each later stage sees) is oracle-pinned too:
    *
    *   1. decontaminate (q79 verdict, eval tenth excluded),
    *   2. Gopher repetition filter (q80 verdict) — both are per-doc
    *      stats over the raw text, so their intersection is order-free;
    *   3. exact-substring span removal (q84) over the SURVIVORS — here
    *      order is load-bearing: span document frequency is computed on
    *      the filtered corpus, and docs cut to nothing drop out;
    *   4. temperature mixture weights (q81 algebra) over the CLEANED
    *      corpus's language counts — not the raw corpus's;
    *   5. token-budget take (q82) per source, quality scored on the
    *      CLEANED text, budget charged in cleaned tokens.
    *
    * Output: the curated-corpus manifest (doc, lang, source, cleaned
    * token count, mixture repeats, cumulative budget position). The
    * cleaned frame is persisted: the driver-side mixture-rate collect
    * and the final plan both consume it (the q81 staging rule), released
    * by the registry runner's `clearCache()`.
    */
  val q86 = QueryDef(
    "q86_curation_e2e",
    (s, dir) => {
      import s.implicits._
      val epochDocs = 1000L
      val budget = 800L
      val maxLangs = 65536
      // The stage outputs are persisted as CSE BARRIERS, not for reuse
      // alone: filtering directly on q80's computed keep_doc collapses
      // its higher-order-lambda expression tree into the filter
      // predicate, where shared subtrees (token/bigram arrays) re-eval
      // per reference — measured 10.8 s vs 0.75 s for the materialized
      // form at sf0.1 (the hashedShingles projection-collapse class).
      // Persists are registry-contract scoped (clearCache per gate).
      val cleanStats = q79.run(s, dir).persist()
      val keepStats = q80.run(s, dir).persist()
      val clean = cleanStats.filter($"contaminated" === 0).select($"doc_id")
      val keep = keepStats.filter($"keep_doc" === 1).select($"doc_id")
      // stage bodies live in operators.Curation (r12): survivors and the
      // cleaned frame are staged inside the WithRelease forms (released
      // here by the registry contract's clearCache, like every persist
      // above); the q103 workflow executes the SAME implementations as
      // PIPELINE steps with ledger rows
      import graft.operators.Curation
      val surv = Curation.survivors(docs(s, dir), clean, keep)
      val cleaned = Curation.spanCleanedWithRelease(surv, n = 8, stringKeys = true).frame
      Curation.mixtureBudgetWithRelease(cleaned, epochDocs, budget, maxLangs).frame
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, lang, source,
          regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents
      ), g AS (
        SELECT doc_id, unnest(CASE WHEN len(t) >= 4 THEN
            list_distinct(list_transform(generate_series(1, len(t)-3),
              i -> list_aggregate(t[i:i+3], 'string_agg', ' ')))
          ELSE [] END) AS gram
        FROM toks
      ), h AS (
        SELECT doc_id, CAST('0x' || substr(md5(gram),1,8) AS BIGINT) AS gh FROM g
      ), ev AS (
        SELECT DISTINCT gh FROM h WHERE doc_id % 10 = 7
      ), contaminated AS (
        SELECT DISTINCT h.doc_id FROM h JOIN ev USING (gh) WHERE h.doc_id % 10 != 7
      ), bgbase AS (
        SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n_tokens,
          CASE WHEN len(t) >= 2 THEN
            list_transform(generate_series(1, len(t)-1), i -> t[i] || ' ' || t[i+1])
          ELSE [] END AS bg
        FROM toks
      ), bgstats AS (
        SELECT doc_id, n_tokens, CAST(len(bg) AS BIGINT) AS n_bg,
          CASE WHEN n_tokens > 0
            THEN 1.0 - CAST(len(list_distinct(t)) AS DOUBLE) / n_tokens ELSE 0.0 END AS dup
        FROM bgbase
      ), cnts AS (
        SELECT doc_id, g2, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT doc_id, unnest(bg) AS g2 FROM bgbase) GROUP BY doc_id, g2
      ), topbg AS (
        SELECT doc_id, c FROM (
          SELECT doc_id, c, row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g2) AS rn
          FROM cnts) WHERE rn = 1
      ), keepb AS (
        SELECT s.doc_id FROM bgstats s LEFT JOIN topbg USING (doc_id)
        WHERE s.dup <= 0.65
          AND (CASE WHEN s.n_bg > 0 THEN CAST(topbg.c AS DOUBLE) / s.n_bg ELSE 0.0 END) <= 0.08
      ), surv AS (
        SELECT toks.* FROM toks
        WHERE doc_id % 10 != 7
          AND doc_id NOT IN (SELECT doc_id FROM contaminated)
          AND doc_id IN (SELECT doc_id FROM keepb)
      ), sp AS (
        SELECT doc_id, unnest(list_transform(generate_series(1, len(t)-7),
          i -> struct_pack(s := i,
            g := t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' ||
                 t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' ' || t[i+7]))) AS u
        FROM surv WHERE len(t) >= 8
      ), starts AS (
        SELECT doc_id, u.s AS s, u.g AS gg FROM sp
      ), dfreq AS (
        SELECT gg, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, gg FROM starts) GROUP BY gg
      ), hot_starts AS (
        SELECT starts.doc_id, starts.s FROM starts JOIN dfreq USING (gg) WHERE dfreq.df >= 2
      ), isl AS (
        SELECT doc_id, s,
          CASE WHEN s > COALESCE(MAX(s + 7) OVER (PARTITION BY doc_id ORDER BY s
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -9) + 1
          THEN 1 ELSE 0 END AS new_isl
        FROM hot_starts
      ), isl2 AS (
        SELECT doc_id, s,
          SUM(new_isl) OVER (PARTITION BY doc_id ORDER BY s ROWS UNBOUNDED PRECEDING) AS island
        FROM isl
      ), cuts AS (
        SELECT doc_id, island, MIN(s) AS cut_start, MAX(s) + 7 AS cut_end
        FROM isl2 GROUP BY doc_id, island
      ), covered AS (
        SELECT doc_id, unnest(generate_series(cut_start, cut_end)) AS i FROM cuts
      ), pos AS (
        SELECT doc_id, unnest(t) AS tok, unnest(generate_series(1, len(t))) AS i FROM surv
      ), keptagg AS (
        SELECT p.doc_id, string_agg(p.tok, ' ' ORDER BY p.i) AS cleaned,
          CAST(COUNT(*) AS BIGINT) AS toks_clean
        FROM pos p LEFT JOIN covered c ON p.doc_id = c.doc_id AND p.i = c.i
        WHERE c.i IS NULL GROUP BY p.doc_id
      ), cleaned AS (
        SELECT s.doc_id, s.lang, s.source, k.toks_clean, k.cleaned
        FROM surv s JOIN keptagg k USING (doc_id)
        WHERE k.toks_clean > 0
      ), counts AS (
        SELECT lang, COUNT(*) AS c FROM cleaned GROUP BY lang
      ), qs AS (
        SELECT lang, c,
          CAST(floor(sqrt(CAST(c AS DOUBLE)) * 1048576.0) AS BIGINT) AS qv
        FROM counts
      ), ms AS (
        SELECT CAST(SUM(qv) AS HUGEINT) AS mass FROM qs
      ), rt AS (
        SELECT lang,
          CAST(num // den AS BIGINT) AS base,
          CAST(((num % den) * 1000) // den AS BIGINT) AS thresh
        FROM (SELECT lang, CAST(qv AS HUGEINT) * 1000 AS num,
                mass * CAST(c AS HUGEINT) AS den FROM qs, ms)
      ), csig AS (
        SELECT doc_id, lang, source, toks_clean,
          regexp_split_to_array(trim(lower(cleaned)), '\s+') AS ct,
          CAST(length(cleaned) AS BIGINT) AS n_chars_c,
          CAST(length(cleaned) - length(regexp_replace(cleaned, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct
        FROM cleaned
      ), cscored AS (
        SELECT doc_id, lang, source, toks_clean,
          least(CAST(len(ct) AS DOUBLE) / 100.0, 1.0) * 0.5
            + least(CAST(len(list_filter(ct, x -> list_contains(['the','and','of','to','a','in','is','der','die','und','das','ist','ein','el','la','de','que','y','es'], x))) AS DOUBLE) / len(ct) * 4.0, 1.0) * 0.5
            - least(CAST(n_punct AS DOUBLE) / n_chars_c * 5.0, 1.0) * 0.25 AS q
        FROM csig
      ), ctake AS (
        SELECT doc_id, lang, source, toks_clean,
          SUM(toks_clean) OVER (PARTITION BY source ORDER BY q DESC, doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum_tokens
        FROM cscored
      )
      SELECT t.doc_id, t.lang, t.source,
        CAST(t.toks_clean AS BIGINT) AS toks_clean,
        CAST(rt.base +
          CASE WHEN CAST('0x' || substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 1000
                 < rt.thresh
               THEN 1 ELSE 0 END AS BIGINT) AS n_repeats,
        CAST(t.cum_tokens AS BIGINT) AS cum_tokens
      FROM ctake t JOIN rt USING (lang)
      WHERE t.cum_tokens <= 800"""))

  /** Paragraph-level exact dedup with reconstruction (r11) — the
    * MassiveText granularity between q13 (whole doc) and q84 (hot span):
    * identical paragraphs keep exactly ONE copy corpus-wide (global
    * first occurrence in (doc_id, idx) order — including within one
    * doc), and documents are reassembled from their survivors. The
    * synthetic corpus has no '\n\n', so paragraphs are fixed 20-token
    * chunks (splitter swaps for split-on-blank-line on a real corpus
    * without touching the dedup shape). Housed in
    * [[graft.operators.ParagraphDedup]] (Staged/Managed release
    * surface); the gate runs string keys so the oracle is exact by
    * construction — the operator's default 128-bit hashed key is the
    * 100 TB shuffle shape q85 already proves for the span family.
    */
  val q87 = QueryDef(
    "q87_paragraph_dedup",
    (s, dir) =>
      graft.operators.ParagraphDedup.dedup(docs(s, dir), chunk = 20, stringKeys = true),
    Some("""
      WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
      ), ch AS (
        SELECT doc_id, unnest(list_transform(generate_series(1, CAST(ceil(len(t) / 20.0) AS INT)),
          j -> struct_pack(j := j,
            g := list_aggregate(t[(j-1)*20+1 : least(j*20, len(t))], 'string_agg', ' '),
            nt := least(j*20, len(t)) - (j-1)*20))) AS u
        FROM toks
      ), occ AS (
        SELECT doc_id, u.j AS j, u.g AS g, u.nt AS nt FROM ch
      ), win AS (
        SELECT g, doc_id AS wd, j AS wj FROM (
          SELECT g, doc_id, j, row_number() OVER (PARTITION BY g ORDER BY doc_id, j) AS rn
          FROM occ) WHERE rn = 1
      ), kept AS (
        SELECT o.doc_id, o.j, o.g, o.nt FROM occ o JOIN win w
          ON o.g = w.g AND o.doc_id = w.wd AND o.j = w.wj
      ), tot AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks FROM occ GROUP BY 1
      ), ka AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS chunks_kept,
          CAST(SUM(nt) AS BIGINT) AS tokens_kept,
          string_agg(g, ' ' ORDER BY j) AS cleaned_text
        FROM kept GROUP BY 1
      )
      SELECT t.doc_id, t.n_chunks,
        CAST(COALESCE(ka.chunks_kept, 0) AS BIGINT) AS chunks_kept,
        CAST(t.n_chunks - COALESCE(ka.chunks_kept, 0) AS BIGINT) AS chunks_removed,
        CAST(COALESCE(ka.tokens_kept, 0) AS BIGINT) AS tokens_kept,
        COALESCE(ka.cleaned_text, '') AS cleaned_text
      FROM tot t LEFT JOIN ka USING (doc_id)"""))

  /** EXACT near-dup components (r11) — q43's min-label propagation run
    * to CONVERGENCE instead of a fixed two rounds: cluster_id = the
    * true minimum doc_id reachable through band-key collisions, however
    * long the collision chain. q43 is exact for the clique-shaped
    * graphs LSH bands produce inside a duplicate cluster; this gate
    * covers the general graph (bridge docs chaining clusters together)
    * and throws rather than returning a silently-partial clustering.
    * Housed in [[graft.operators.ConnectedComponents]]: per round one
    * groupBy(bucket) + one groupBy(doc) — doc–doc edges never
    * materialize, so a hot bucket costs its membership, not its square;
    * rounds = collision-graph diameter, labels localCheckpoint'ed per
    * round. The oracle computes true min-reachability with a recursive
    * CTE over the materialized edge list (fine at oracle scale; the
    * engine never builds it).
    */
  val q88 = QueryDef(
    "q88_neardup_components",
    // forced propagation: q88 pins THIS algorithm's labels against the
    // oracle (q104 pins stars, q95/q106 ride the auto dispatch default)
    (s, dir) => graft.operators.NearDup
      .componentLabels(docs(s, dir), k = K, bands = BANDS, algo = "propagation"),
    Some("""
      WITH RECURSIVE toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
      ), sh AS (
        SELECT doc_id,
          CASE WHEN len(t) >= 3 THEN
            list_distinct(list_transform(generate_series(1, len(t)-2),
              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
          ELSE [] END AS shingles
        FROM toks
      ), sig AS (
        SELECT doc_id,
          list_transform(generate_series(0, 11), k ->
            list_min(list_transform(
              list_transform(shingles, s -> CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)),
              h -> ((2*k+1)*h + k*12582917) % 4294967311))) AS sig
        FROM sh WHERE len(shingles) > 0
      ), bands AS (
        SELECT doc_id, b, md5(array_to_string(sig[(3*b+1):(3*b+3)], ',')) AS band_key
        FROM sig, (SELECT unnest(generate_series(0,3)) AS b)
      ), edges AS (
        SELECT DISTINCT a.doc_id AS u, c.doc_id AS v
        FROM bands a JOIN bands c ON a.b = c.b AND a.band_key = c.band_key
          AND a.doc_id <> c.doc_id
      ), reach AS (
        SELECT doc_id AS u, doc_id AS lbl FROM sig
        UNION
        SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.u
      )
      SELECT d.doc_id, COALESCE(mn.comp, d.doc_id) AS cluster_id
      FROM documents d
      LEFT JOIN (SELECT u AS doc_id, MIN(lbl) AS comp FROM reach GROUP BY 1) mn
        USING (doc_id)"""))

  /** q88 through the STAR-CONTRACTION components path (r12) —
    * [[graft.operators.ConnectedComponents.viaStars]], the O(log n)-
    * round Kiveris large-star/small-star alternation, on the same LSH
    * collision graph with the SAME oracle verbatim: the two algorithms
    * must agree label-for-label, and the gate keeps the adversarial-
    * diameter scale path (FANIN.md chain probe: 65 rounds → 6) driver-
    * checked every round, not just spec-checked. Bucket memberships
    * contract to (member, bucket-min) star edges before any iteration —
    * the edge list stays LINEAR in the membership frame, never a hot
    * bucket's m² pairs.
    */
  val q104 = QueryDef(
    "q104_components_stars",
    (s, dir) => graft.operators.NearDup
      .componentLabels(docs(s, dir), k = K, bands = BANDS, algo = "stars"),
    Some("""
      WITH RECURSIVE toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
      ), sh AS (
        SELECT doc_id,
          CASE WHEN len(t) >= 3 THEN
            list_distinct(list_transform(generate_series(1, len(t)-2),
              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
          ELSE [] END AS shingles
        FROM toks
      ), sig AS (
        SELECT doc_id,
          list_transform(generate_series(0, 11), k ->
            list_min(list_transform(
              list_transform(shingles, s -> CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)),
              h -> ((2*k+1)*h + k*12582917) % 4294967311))) AS sig
        FROM sh WHERE len(shingles) > 0
      ), bands AS (
        SELECT doc_id, b, md5(array_to_string(sig[(3*b+1):(3*b+3)], ',')) AS band_key
        FROM sig, (SELECT unnest(generate_series(0,3)) AS b)
      ), edges AS (
        SELECT DISTINCT a.doc_id AS u, c.doc_id AS v
        FROM bands a JOIN bands c ON a.b = c.b AND a.band_key = c.band_key
          AND a.doc_id <> c.doc_id
      ), reach AS (
        SELECT doc_id AS u, doc_id AS lbl FROM sig
        UNION
        SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.u
      )
      SELECT d.doc_id, COALESCE(mn.comp, d.doc_id) AS cluster_id
      FROM documents d
      LEFT JOIN (SELECT u AS doc_id, MIN(lbl) AS comp FROM reach GROUP BY 1) mn
        USING (doc_id)"""))

  /** Bloom-pre-filtered INCREMENTAL dedup (r11) — the "is this doc
    * already in the corpus?" check an ingest pipeline runs per batch
    * against trillions of historic fingerprints. Historic = docs with
    * doc_id % 4 != 0, incoming = the rest (the deterministic batch
    * split); output = incoming docs whose fingerprint is genuinely new.
    * The bloom ([[graft.operators.Bloom]], sparse (w, bits) bitmap
    * frame, broadcast probe join) prunes definitely-new keys so the
    * exact confirm join runs only on candidates — and because every
    * bloom hit IS exactly confirmed, the gate's output is exact no
    * matter the fp rate, which is why DuckDB can oracle it with a plain
    * anti-join: the bloom changes the plan's probe mass, not one row.
    * BloomSpec pins no-false-negatives and the exactness under a
    * deliberately saturated 64-bit filter.
    */
  val q89 = QueryDef(
    "q89_bloom_incremental",
    (s, dir) => {
      import s.implicits._
      val fp = docs(s, dir)
        .select($"doc_id", T.fingerprintMd5($"text").as("fingerprint"))
      val seen = fp.filter(pmod($"doc_id", lit(4L)) =!= 0L).select($"fingerprint")
      val incoming = fp.filter(pmod($"doc_id", lit(4L)) === 0L)
      graft.operators.Bloom
        .newKeys(incoming, seen, "fingerprint", mBits = 1L << 16, k = 5)
        .select($"doc_id", $"fingerprint")
    },
    Some("""
      WITH fp AS (
        SELECT doc_id,
          md5(array_to_string(regexp_split_to_array(trim(lower(text)), '\s+'), ' ')) AS fingerprint
        FROM documents
      )
      SELECT i.doc_id, i.fingerprint FROM fp i
      WHERE i.doc_id % 4 = 0
        AND i.fingerprint NOT IN (SELECT fingerprint FROM fp WHERE doc_id % 4 <> 0)"""))

  /** Bloom INCREMENTAL-MAINTENANCE lifecycle (r12, VERDICT wrong #2
    * executed): q89 proves the pre-filtered dedup is exact; this gate
    * runs the shape a long-lived ingest service actually uses —
    * the historic bitmap and keyset are built ONCE and persisted, two
    * successive batches probe the SAME bitmap ([[graft.operators.Bloom
    * .newKeysAgainst]]), and batch 1's admitted keys fold into the
    * filter by [[graft.operators.Bloom.merge]] (a bit_or over word rows,
    * bitmap-sized work) rather than a rebuild over the whole corpus —
    * so batch 2's membership reference is historic ∪ batch-1-admissions
    * with the historic keyset scanned once for the build. Exactness at
    * any fp rate is inherited: every bloom hit is confirmed by the
    * exact semi-join, so DuckDB oracles the whole lifecycle with two
    * plain anti-joins. Batches: historic = doc_id % 4 ∈ {1,2}, batch 1
    * = % 4 = 0, batch 2 = % 4 = 3.
    */
  val q101 = QueryDef(
    "q101_bloom_batch_ingest",
    (s, dir) => {
      import s.implicits._
      import graft.operators.Bloom
      val mBits = 1L << 16
      val k = 5
      val fp = docs(s, dir)
        .select($"doc_id", T.fingerprintMd5($"text").as("fingerprint"))
      val historic = fp.filter(pmod($"doc_id", lit(4L)).isin(1L, 2L))
        .select($"fingerprint").persist()
      val bloom0 = Bloom.build(historic, "fingerprint", mBits, k).persist()
      val batch1 = fp.filter(pmod($"doc_id", lit(4L)) === 0L)
      val new1 = Bloom.newKeysAgainst(batch1, historic, "fingerprint",
        bloom0, mBits, k).persist()
      // fold batch 1's admissions in: bitmap-sized work, no corpus re-scan
      val bloom1 = Bloom.merge(bloom0,
        Bloom.build(new1.select($"fingerprint"), "fingerprint", mBits, k))
      val seen1 = historic.unionByName(new1.select($"fingerprint"))
      val batch2 = fp.filter(pmod($"doc_id", lit(4L)) === 3L)
      val new2 = Bloom.newKeysAgainst(batch2, seen1, "fingerprint", bloom1, mBits, k)
      new1.select(lit(1L).as("batch"), $"doc_id", $"fingerprint")
        .unionByName(new2.select(lit(2L).as("batch"), $"doc_id", $"fingerprint"))
    },
    Some("""
      WITH fp AS (
        SELECT doc_id,
          md5(array_to_string(regexp_split_to_array(trim(lower(text)), '\s+'), ' ')) AS fingerprint
        FROM documents
      )
      SELECT CAST(1 AS BIGINT) AS batch, doc_id, fingerprint FROM fp
      WHERE doc_id % 4 = 0
        AND fingerprint NOT IN (SELECT fingerprint FROM fp WHERE doc_id % 4 IN (1, 2))
      UNION ALL
      SELECT CAST(2 AS BIGINT) AS batch, doc_id, fingerprint FROM fp
      WHERE doc_id % 4 = 3
        AND fingerprint NOT IN (SELECT fingerprint FROM fp WHERE doc_id % 4 IN (0, 1, 2))"""))

  /** STREAMING incremental bloom-gated dedup (r12) — q101's lifecycle
    * run continuously ([[graft.streaming.Streams.bloomDedupStream]]):
    * two arrival files drain as mtime-ordered micro-batches
    * (`maxFilesPerTrigger=1` + AvailableNow), each probing the
    * warehouse-persisted bitmap, appending its admissions, and folding
    * them into the filter by `Bloom.merge` — the filter's state is a
    * relational (w, bits) TABLE in the warehouse (restart-surviving,
    * job-shareable), not stream-store or driver state, and the historic
    * keyset is scanned once at setup. Exact at any fp rate (every hit
    * confirmed by the exact semi-join), so the oracle is q101's
    * verbatim: batch 1's reference set is historic, batch 2's is
    * historic ∪ batch 1.
    */
  val q105 = QueryDef(
    "q105_bloom_streaming_ingest",
    (s, dir) => {
      import s.implicits._
      import graft.operators.Bloom
      val mBits = 1L << 16
      val k = 5
      val base = graft.util.TempDirs.scratch("q105stream")
      val fp = docs(s, dir)
        .select($"doc_id", T.fingerprintMd5($"text").as("fingerprint"))
      // two arrival files with strictly increasing mtimes — the file
      // source drains oldest-first, which IS the ordering contract
      def writeArrival(n: Int, slice: Long, mtime: Long): Unit = {
        val tmp = s"$base/tmp$n"
        fp.filter(pmod($"doc_id", lit(4L)) === slice).coalesce(1).write.parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = new java.io.File(s"$base/in/batch$n.parquet")
        dst.getParentFile.mkdirs()
        java.nio.file.Files.move(part.toPath, dst.toPath)
        require(dst.setLastModified(mtime), s"could not order arrival file $n")
      }
      writeArrival(1, 0L, 1700000000000L)
      writeArrival(2, 3L, 1700000100000L)
      val wh = new graft.catalog.Warehouse(s"$base/wh")
      // seen rows are (key, batch): the batch tag is the stream's
      // replay-rewind key (r13); the historic keyset is batch 0
      wh.append(fp.filter(pmod($"doc_id", lit(4L)).isin(1L, 2L))
        .select($"fingerprint", lit(0L).as("batch")), "seen")
      wh.overwrite(
        Bloom.build(wh.read(s, "seen"), "fingerprint", mBits, k), "bloom")
      val stream = s.readStream.schema(fp.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$base/in")
      val q = graft.streaming.Streams.bloomDedupStream(stream, "fingerprint",
        wh, seenTable = "seen", bloomTable = "bloom", outTable = "admitted",
        checkpointDir = s"$base/ckpt", mBits = mBits, k = k)
      q.awaitTermination()
      wh.read(s, "admitted")
        .select($"batch".cast("long").as("batch"), $"doc_id", $"fingerprint")
    },
    Some("""
      WITH fp AS (
        SELECT doc_id,
          md5(array_to_string(regexp_split_to_array(trim(lower(text)), '\s+'), ' ')) AS fingerprint
        FROM documents
      )
      SELECT CAST(1 AS BIGINT) AS batch, doc_id, fingerprint FROM fp
      WHERE doc_id % 4 = 0
        AND fingerprint NOT IN (SELECT fingerprint FROM fp WHERE doc_id % 4 IN (1, 2))
      UNION ALL
      SELECT CAST(2 AS BIGINT) AS batch, doc_id, fingerprint FROM fp
      WHERE doc_id % 4 = 3
        AND fingerprint NOT IN (SELECT fingerprint FROM fp WHERE doc_id % 4 IN (0, 1, 2))"""))

  /** Unigram-LM surprisal (r11) — the exact-arithmetic skeleton of a
    * CCNet-style perplexity filter: train the unigram LM on the corpus
    * itself (token → count), score every doc by its summed inverse
    * token frequency (rare tokens ⇒ high surprisal; boilerplate ⇒ low),
    * in FIXED POINT (SCALE/c per occurrence, integer division) so both
    * engines agree to the last digit — the same exactness discipline as
    * Mixture's fixed-point sqrt; a production filter would swap the
    * corpus-internal unigram LM for a held-out KenLM and bucket on the
    * score. Shape: one explode, one groupBy(token) for the LM, one
    * broadcast join back (vocabulary ≪ corpus by Heaps' law — and the
    * token join key is exactly as skewed as the corpus's Zipf curve, so
    * the broadcast is not an optimization but the skew fix; past the
    * 512 MiB guard the fallback is Skew.capBuckets), one groupBy(doc).
    */
  val q90 = QueryDef(
    "q90_unigram_surprisal",
    (s, dir) => {
      import s.implicits._
      val occ = docs(s, dir)
        .select($"doc_id", explode(T.tokens($"text")).as("tok"))
      val lm = occ.groupBy($"tok").agg(count(lit(1)).as("c"))
      occ.join(broadcast(lm), "tok")
        .groupBy($"doc_id")
        .agg(
          count(lit(1)).as("n_toks"),
          // 1e12 fixed-point, integer div: exact in both engines
          sum(expr("1000000000000L div c")).as("surprisal"))
        .select($"doc_id", $"n_toks", $"surprisal",
          expr("surprisal div n_toks").as("mean_surprisal"))
    },
    Some("""
      WITH occ AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        FROM documents
      ), lm AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM occ GROUP BY 1
      ), scored AS (
        SELECT o.doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks,
          CAST(SUM(1000000000000 // lm.c) AS BIGINT) AS surprisal
        FROM occ o JOIN lm USING (tok) GROUP BY 1
      )
      SELECT doc_id, n_toks, surprisal,
        CAST(surprisal // n_toks AS BIGINT) AS mean_surprisal
      FROM scored"""))

  /** Near-dup PRUNE (r11) — the ACTION on q88's component signal, the
    * same signal→action step q84 is to q83: per connected component
    * keep the canonical representative (the min-doc_id member, which is
    * exactly the component label q88 converges to) and report what the
    * prune bought — member count and the character mass dropped with
    * the non-representatives. Singletons pass through as their own
    * one-member cluster with zero dropped mass, so the output IS the
    * deduplicated corpus manifest: one row per surviving document.
    * Costs one groupBy(cluster) over q88's labeling — no new join
    * class, and the label is already the keeper's id so no argmin
    * re-derivation is needed.
    */
  val q95 = QueryDef(
    "q95_neardup_prune",
    (s, dir) => graft.operators.NearDup.pruneManifest(docs(s, dir),
      graft.operators.NearDup.componentLabels(docs(s, dir), k = K, bands = BANDS)),
    Some("""
      WITH RECURSIVE toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
      ), sh AS (
        SELECT doc_id,
          CASE WHEN len(t) >= 3 THEN
            list_distinct(list_transform(generate_series(1, len(t)-2),
              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
          ELSE [] END AS shingles
        FROM toks
      ), sig AS (
        SELECT doc_id,
          list_transform(generate_series(0, 11), k ->
            list_min(list_transform(
              list_transform(shingles, s -> CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)),
              h -> ((2*k+1)*h + k*12582917) % 4294967311))) AS sig
        FROM sh WHERE len(shingles) > 0
      ), bands AS (
        SELECT doc_id, b, md5(array_to_string(sig[(3*b+1):(3*b+3)], ',')) AS band_key
        FROM sig, (SELECT unnest(generate_series(0,3)) AS b)
      ), edges AS (
        SELECT DISTINCT a.doc_id AS u, c.doc_id AS v
        FROM bands a JOIN bands c ON a.b = c.b AND a.band_key = c.band_key
          AND a.doc_id <> c.doc_id
      ), reach AS (
        SELECT doc_id AS u, doc_id AS lbl FROM sig
        UNION
        SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.u
      ), labeled AS (
        SELECT d.doc_id, d.n_chars, COALESCE(mn.comp, d.doc_id) AS cluster_id
        FROM documents d
        LEFT JOIN (SELECT u AS doc_id, MIN(lbl) AS comp FROM reach GROUP BY 1) mn
          USING (doc_id)
      )
      SELECT cluster_id AS doc_id, COUNT(*) AS n_members,
        CAST(SUM(CASE WHEN doc_id = cluster_id THEN 0 ELSE n_chars END) AS BIGINT)
          AS chars_dropped
      FROM labeled GROUP BY 1"""))

  /** TF-IDF pair similarity over a df-capped inverted index (r11) —
    * the third pairwise-similarity family (set overlap: q15; edit
    * distance: q57; WEIGHTED LEXICAL OVERLAP: this), housed in
    * [[graft.operators.InvertedIndex]]: bigram features (the q92
    * vocabulary — unigrams are degenerate on this corpus), terms with
    * df > 20 dropped BEFORE pairing (posting-list impact pruning, the
    * operator's scale lever: fan-in ≤ dfCap·|postings| — measured 36×
    * candidate reduction here), pairs scored Σ tf·tf·(10⁶ div df) in
    * exact fixed point (idf's constant N factor cancels in ranking, so
    * dropping it keeps every product Long-safe at any corpus size).
    * Top 50 pairs, total-ordered by (score desc, doc_a, doc_b).
    */
  val q97 = QueryDef(
    "q97_tfidf_pairs",
    (s, dir) => {
      import s.implicits._
      val toks = docs(s, dir)
        .select($"doc_id", T.tokens($"text").as("t"))
        .select($"doc_id", explode(when(size($"t") >= 2,
          expr("transform(sequence(0, size(t)-2), i -> concat(t[i], ' ', t[i+1]))"))
          .otherwise(array().cast("array<string>"))).as("tok"))
      graft.operators.InvertedIndex
        .pairs(toks, "doc_id", "tok", dfCap = 20L, scale = 1000000L)
        .orderBy(desc("score"), $"doc_a", $"doc_b")
        .limit(50)
    },
    Some("""
      WITH t AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
      ), toks AS (
        SELECT doc_id, unnest(CASE WHEN len(t) >= 2 THEN
          list_transform(generate_series(1, len(t)-1), i -> t[i] || ' ' || t[i+1])
          ELSE [] END) AS tok
        FROM t
      ), tf AS (
        SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2
      ), df AS (
        SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1
      ), post AS (
        SELECT tf.doc_id, tf.tok, tf.tf, df.df
        FROM tf JOIN df USING (tok) WHERE df.df <= 20
      ), pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          CAST(SUM(a.tf * b.tf * (1000000 // a.df)) AS BIGINT) AS score
        FROM post a JOIN post b ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      )
      SELECT doc_a, doc_b, score FROM pairs
      ORDER BY score DESC, doc_a, doc_b LIMIT 50"""))

  /** Epoch MATERIALIZATION (r11) — the action on q81's mixture rates,
    * closing the signal→action arc for the mixing stage the way q84
    * does for q83 and q95 for q88: each doc explodes into its
    * `n_repeats` epoch copies (base + the per-doc fractional draw) with
    * a 1-based repeat index, and every copy gets a deterministic
    * SHUFFLE SHARD — `hash(doc_id:rep) mod 32`, the training-side
    * global shuffle as a pure map (two copies of one doc land in
    * different shards, re-runs land identically). The explode is
    * map-side and output-proportional — the epoch IS this many rows;
    * no shuffle until the training writer ranges by shard.
    */
  val q100 = QueryDef(
    "q100_epoch_materialize",
    (s, dir) => {
      import s.implicits._
      val epochDocs = 1000L
      val maxLangs = 65536
      val d = docs(s, dir).select($"doc_id", $"lang")
      val langStats = d.groupBy($"lang").agg(count(lit(1)).as("c"))
        .limit(maxLangs + 1).collect()
      require(langStats.length <= maxLangs,
        s"q100: language cardinality exceeds $maxLangs — not a lang column?")
      val rates = graft.operators.Mixture
        .rates(langStats.toSeq.map(r => (r.getString(0), r.getLong(1))), epochDocs)
        .toDF("lang", "base", "thresh")
      d.join(broadcast(rates), "lang")
        .select($"doc_id", $"lang",
          ($"base" +
            when(pmod(T.hash32($"doc_id".cast("string")), lit(1000L)) < $"thresh",
              1L).otherwise(0L))
            .cast("long").as("n_repeats"))
        .filter($"n_repeats" > 0)
        .select($"doc_id", $"lang", explode(expr("sequence(1L, n_repeats)")).as("rep"))
        .withColumn("shard",
          pmod(T.hash32(concat($"doc_id".cast("string"), lit(":"), $"rep".cast("string"))),
            lit(32L)))
    },
    Some("""
      WITH counts AS (
        SELECT lang, COUNT(*) AS c FROM documents GROUP BY lang
      ), q AS (
        SELECT lang, c,
          CAST(floor(sqrt(CAST(c AS DOUBLE)) * 1048576.0) AS BIGINT) AS qv
        FROM counts
      ), m AS (
        SELECT CAST(SUM(qv) AS HUGEINT) AS mass FROM q
      ), rates AS (
        SELECT lang,
          CAST(qv AS HUGEINT) * 1000 AS num,
          mass * CAST(c AS HUGEINT) AS den
        FROM q, m
      ), rt AS (
        SELECT lang,
          CAST(num // den AS BIGINT) AS base,
          CAST(((num % den) * 1000) // den AS BIGINT) AS thresh
        FROM rates
      ), reps AS (
        SELECT d.doc_id, d.lang,
          CAST(base +
            CASE WHEN CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 1000
                   < thresh
                 THEN 1 ELSE 0 END AS BIGINT) AS n_repeats
        FROM documents d JOIN rt USING (lang)
      )
      SELECT doc_id, lang, unnest(generate_series(1, n_repeats)) AS rep,
        CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
          CAST(unnest(generate_series(1, n_repeats)) AS VARCHAR)), 1, 8) AS BIGINT) % 32
          AS shard
      FROM reps WHERE n_repeats > 0"""))

  /** Winnowing fingerprint overlap profile (r15 — the
    * document-fingerprinting slot of the training-pipeline brief,
    * Schleimer et al. SIGMOD 2003): per doc the selected-fingerprint
    * count, how many recur in other docs, and the hottest fingerprint's
    * document frequency. k=5 grams, w=4 windows — any shared 8-token
    * run guarantees a shared fingerprint while selecting ~2/(w+1) of
    * the grams; at the fixture corpus the shared mass is meaningfully
    * between q83's exact-span profile (n=8) and the MinHash gates.
    * Shape: map-side winnowing on the intact doc row, one explode +
    * df-groupBy + join back — the q83 shape, never all-pairs.
    */
  val q131 = QueryDef(
    "q131_winnow_profile",
    (s, dir) => graft.operators.Winnow.profile(docs(s, dir)),
    Some("""
      WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
      ), gh AS (
        SELECT doc_id,
          list_transform(generate_series(1, len(t) - 4),
            i -> CAST('0x' || substr(md5(list_aggregate(t[i:i+4], 'string_agg', ' ')), 1, 8) AS BIGINT)) AS gh
        FROM toks WHERE len(t) >= 5
      ), fps AS (
        SELECT doc_id, unnest(list_distinct(
          list_transform(generate_series(1, greatest(1, len(gh) - 3)),
            i -> list_min(gh[i:i+3])))) AS fp
        FROM gh
      ), dfreq AS (
        SELECT fp, count(DISTINCT doc_id) AS df FROM fps GROUP BY 1
      )
      SELECT f.doc_id,
        count(*) AS n_fps,
        CAST(sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_fps,
        max(d.df) AS max_fp_df
      FROM fps f JOIN dfreq d USING (fp)
      GROUP BY 1"""))

  /** The winnowing PAIR action (the MOSS match list): doc pairs sharing
    * at least 2 non-hot fingerprints, overlap score = the shared count.
    * maxDf=8 drops ubiquitous (boilerplate) fingerprints BEFORE the
    * self-join, so a hot fingerprint costs nothing rather than its
    * square — the cap is load-bearing at the fixture (the synthetic
    * vocabulary makes several fingerprints corpus-hot; uncapped they
    * would both blow the pair count and pair everything with
    * everything). Signal (q131) → action, like the rest of the dedup
    * family.
    */
  val q132 = QueryDef(
    "q132_winnow_pairs",
    (s, dir) => graft.operators.Winnow.pairs(docs(s, dir)),
    Some("""
      WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
      ), gh AS (
        SELECT doc_id,
          list_transform(generate_series(1, len(t) - 4),
            i -> CAST('0x' || substr(md5(list_aggregate(t[i:i+4], 'string_agg', ' ')), 1, 8) AS BIGINT)) AS gh
        FROM toks WHERE len(t) >= 5
      ), fps AS (
        SELECT doc_id, unnest(list_distinct(
          list_transform(generate_series(1, greatest(1, len(gh) - 3)),
            i -> list_min(gh[i:i+3])))) AS fp
        FROM gh
      ), pairable AS (
        SELECT doc_id, fp FROM fps
        WHERE fp IN (SELECT fp FROM fps GROUP BY fp
                     HAVING count(DISTINCT doc_id) BETWEEN 2 AND 8)
      )
      SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, count(*) AS n_shared
      FROM pairable l JOIN pairable r
        ON l.fp = r.fp AND l.doc_id < r.doc_id
      GROUP BY 1, 2
      HAVING count(*) >= 2"""))

  val all: Seq[QueryDef] =
    Seq(q13, q14, q15, q16, q17, q18, q19, q29, q39, q41, q43, q44, q46,
      q48, q49, q54, q55, q57, q58, q59, q60, q61, q66, q78, q79, q80,
      q81, q82, q83, q84, q85, q86, q87, q88, q89, q90, q95, q97, q100, q101,
      q104, q105, q115, q122, q123, q131, q132)
}
