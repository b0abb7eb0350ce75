package graft.queries

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents` — exact (hash-groupBy), n-gram Jaccard,
  * MinHash+LSH, and SimHash. A core training-data-pipeline surface.
  *
  * The source table has no duplicates, so each query first *plants* them
  * deterministically (exact copies at doc_id+1000000000, near-copies with an appended
  * suffix at doc_id+2000000000) — the same construction in the DuckDB oracle — and then
  * must find exactly the planted set.
  *
  * Cross-engine exactness: content hashing uses either `md5` (identical in Spark and
  * DuckDB) or the shared polynomial rolling hash mod 2^31-1; min/sum over those are
  * order-independent, so even MinHash signatures and SimHash bits hash-match the
  * oracle bit-for-bit.
  *
  * Scale: exact dedup is one hash-agg shuffle on the content hash. MinHash/LSH is the
  * 100 TB path: signature build is map-side; the candidate join shuffles on band keys
  * whose cardinality ~ corpus size / band collision rate, never all-pairs. The
  * all-pairs Jaccard query is deliberately restricted to a small id range — at scale
  * it exists only as the verifier behind LSH candidates.
  */
object DedupQueries {

  /** documents ∪ planted exact dups (+1000000000, doc_id<40) ∪ planted near-dups
    * (+2000000000, doc_id<30, suffix appended). */
  private def corpus(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select("doc_id", "text")
    d.unionByName(
      d.filter(col("doc_id") < 40)
        .select((col("doc_id") + 1000000000L).as("doc_id"), col("text")))
      .unionByName(
        d.filter(col("doc_id") < 30)
          .select((col("doc_id") + 2000000000L).as("doc_id"),
            concat(col("text"), lit(" zz11 zz22 zz33")).as("text")))
  }

  private val sqlCorpus =
    """corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000000 AS doc_id, text FROM documents WHERE doc_id < 40
      |  UNION ALL
      |  SELECT doc_id + 2000000000 AS doc_id, text || ' zz11 zz22 zz33' AS text
      |  FROM documents WHERE doc_id < 30)""".stripMargin

  /** Distinct 5-char shingles per doc, for the id-bounded near-dup subset. */
  private def shingles(s: SparkSession, dir: String): DataFrame =
    corpus(s, dir)
      .filter(col("doc_id") < 30 || col("doc_id") >= 1000000000L)
      .select(col("doc_id"),
        explode(array_distinct(expr(
          "transform(sequence(1, length(text) - 4), i -> substring(text, i, 5))")))
          .as("sh"))

  private val sqlShingles =
    s"""$sqlCorpus,
       |sh AS (
       |  SELECT DISTINCT doc_id, sh FROM (
       |    SELECT doc_id,
       |      unnest(list_transform(generate_series(1, length(text) - 4),
       |                            i -> substring(text, i, 5))) AS sh
       |    FROM corpus WHERE doc_id < 30 OR doc_id >= 1000000000))""".stripMargin

  /** Shared shingle hash: fold code points as (acc*31 + cp) mod 2^31-1. */
  private val shHash =
    "aggregate(transform(sequence(1, length(sh)), i -> ascii(substring(sh, i, 1))), " +
      "0L, (x, c) -> (x * 31 + c) % 2147483647)"

  private val sqlShHash =
    "list_reduce([CAST(0 AS BIGINT)] || list_transform(generate_series(1, length(sh)), " +
      "i -> CAST(ascii(substring(sh, i, 1)) AS BIGINT)), (x, c) -> (x * 31 + c) % 2147483647)"

  // Permutation constants shared with the operator-layer MinHash kernel
  // (graft.operators.MinHash) so signature stores are compatible across the
  // batch queries and the streaming near-dup ingest. The SQL oracle below
  // interpolates the same values.
  private val K = graft.operators.MinHash.K
  private def mhA(j: Int): Long = graft.operators.MinHash.a(j)
  private def mhB(j: Int): Long = graft.operators.MinHash.b(j)

  /** Per-doc MinHash signature columns mh_0..mh_11 over hashed shingles.
    * Uses the NATIVE codegen'd rolling_hash (identical fold to [[shHash]],
    * which the oracle states in HOF form) — single pass, no per-char array
    * allocation in the hot path. */
  private def signatures(s: SparkSession, dir: String): DataFrame =
    shingles(s, dir)
      .withColumn("h", expr("rolling_hash(sh)"))
      .groupBy("doc_id")
      .agg(
        min((col("h") * mhA(0) + mhB(0)) % 2147483647L).as("mh_0"),
        (1 until K).map(j =>
          min((col("h") * mhA(j) + mhB(j)) % 2147483647L).as(s"mh_$j")): _*)

  private val sqlSignatures =
    s"""$sqlShingles,
       |hs AS (SELECT doc_id, $sqlShHash AS h FROM sh),
       |sig AS (
       |  SELECT doc_id,
       |${(0 until K).map(j =>
          s"    MIN((h * ${mhA(j)} + ${mhB(j)}) % 2147483647) AS mh_$j")
          .mkString(",\n")}
       |  FROM hs GROUP BY doc_id)""".stripMargin

  /** Per-token rolling hash (same fold as TextQueries) applied to exploded
    * tokens of the bounded subset. */
  private def tokenHashes(s: SparkSession, dir: String): DataFrame =
    corpus(s, dir)
      .filter(col("doc_id") < 30 || col("doc_id") >= 1000000000L)
      .select(col("doc_id"),
        explode(expr("filter(split(text, ' '), x -> x != '')")).as("t"))
      .withColumn("th", expr("rolling_hash(t)")) // native; oracle states the HOF form

  private val sqlTokenHashes =
    s"""$sqlCorpus,
       |toks AS (
       |  SELECT doc_id,
       |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t
       |  FROM corpus WHERE doc_id < 30 OR doc_id >= 1000000000),
       |th AS (
       |  SELECT doc_id,
       |    list_reduce([CAST(0 AS BIGINT)] || list_transform(generate_series(1, length(t)),
       |      i -> CAST(ascii(substring(t, i, 1)) AS BIGINT)),
       |      (x, c) -> (x * 31 + c) % 2147483647) AS th
       |  FROM toks)""".stripMargin

  private val B = 24 // simhash bits (of the 31-bit token hash)
  // d_simhash_banded's band layout: SimBands bands of SimBandBits bits = B
  private val SimBands = 3
  private val SimBandBits = 8

  /** 24-bit SimHash per doc: majority vote of token-hash bits. */
  private def simhashSigs(s: SparkSession, dir: String): DataFrame = {
    val votes = (0 until B).map(b =>
      sum(when(shiftright(col("th"), b).bitwiseAND(1L) === 1L, 1L).otherwise(-1L))
        .as(s"sb_$b"))
    tokenHashes(s, dir)
      .groupBy("doc_id")
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until B).map(b => when(col(s"sb_$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  private val sqlSimhashSigs =
    s"""$sqlTokenHashes,
       |votes AS (
       |  SELECT doc_id,
       |${(0 until B).map(b =>
          s"    SUM(CASE WHEN ((th >> $b) & 1) = 1 THEN 1 ELSE -1 END) AS sb_$b")
          .mkString(",\n")}
       |  FROM th GROUP BY doc_id),
       |sig AS (
       |  SELECT doc_id,
       |    ${(0 until B).map(b => s"(CASE WHEN sb_$b > 0 THEN ${1L << b} ELSE 0 END)")
            .mkString(" + ")} AS simhash
       |  FROM votes)""".stripMargin

  /** `CASE` giving a candidate pair's minimal colliding band; `same(b)`
    * tests its band-b keys for equality. The pair came out of a band
    * bucket, so the last band needs no test. */
  private def minBandCase(nBands: Int)(same: Int => String): String =
    (0 until nBands - 1).map(b => s"WHEN ${same(b)} THEN $b")
      .mkString("CASE ", "\n     ", s"\n     ELSE ${nBands - 1} END")

  /** LSH candidate pairs (d1 < d2), shared by the pair query and the
    * component-clustering query.
    *
    * Pairs are generated BUCKET-LOCALLY: group by (band, bucket), collect the
    * (few) colliding doc ids, emit i<j combinations per bucket. One pass over
    * the signatures and a single exchange — the self-join formulation would
    * compute the whole signature subplan twice (no ReusedExchange across
    * differently-aliased sides) and shuffle both copies. Bucket sizes are
    * bounded by design (band collision rate), so the per-bucket quadratic is
    * constant work; a pathological mega-bucket surfaces in
    * [[graft.operators.MinHash.bandHotKeys]] (Skew.hotKeys over these same
    * band keys — spec'd on a deliberately skewed corpus in SkewSpec) long
    * before it mattered here.
    */
  private def lshPairs(s: SparkSession, dir: String): DataFrame =
    lshBandPairs(signatures(s, dir))

  /** [[lshPairs]] over a signature table (doc_id, mh_0..mh_{K-1}): band b
    * keys rows b·R .. b·R+R-1, R = K / NBands. */
  private[queries] def lshBandPairs(sig: DataFrame): DataFrame = {
    val nBands = graft.operators.MinHash.NBands
    val rows = K / nBands
    // Every doc carries ALL its band keys (`bkeys`) through the band
    // explode, so a bucket-local pair can see exactly which bands the two
    // docs collide in. A pair colliding in several bands is then emitted
    // ONLY from its minimal colliding band — globally unique by
    // construction — which deletes the whole-pair-set `distinct()` exchange
    // the old shape paid to collapse multi-band duplicates (guide §2.4:
    // 3 exchanges → 2 before the caller's sort). Exact string equality on
    // the band keys, so the emitted set is bit-identical to the distinct'd
    // one; the extra ~100 B/banded row through the band exchange is the
    // documented price (§2.3) for removing a full shuffle of the pairs.
    val banded = sig.select(col("doc_id"),
      array((0 until nBands).map(b =>
        concat_ws("_", (0 until rows).map(r => col(s"mh_${rows * b + r}")): _*)
      ): _*).as("bkeys"))
      .select(col("doc_id"), col("bkeys"),
        posexplode(col("bkeys")).as(Seq("band", "bkey")))
    banded
      .groupBy("band", "bkey")
      .agg(sort_array(collect_list(struct(col("doc_id"), col("bkeys"))))
        .as("ds"))
      .filter(size(col("ds")) > 1)
      .select(col("band"), explode(expr(
        """flatten(transform(ds, (x, i) ->
          |  transform(slice(ds, i + 2, size(ds)),
          |    y -> struct(x.doc_id AS d1, x.bkeys AS k1,
          |                y.doc_id AS d2, y.bkeys AS k2))))""".stripMargin))
        .as("p"))
      .filter(col("band") === expr(
        minBandCase(nBands)(b => s"p.k1[$b] = p.k2[$b]")))
      .select(col("p.d1").as("d1"), col("p.d2").as("d2"))
  }

  /** d_simhash_banded's candidate pairs over a (doc_id, simhash) table:
    * (band, p: struct(d1, h1, d2, h2)) per d1 < d2 sharing a band value,
    * each pair once, from its minimal colliding band. */
  private[queries] def simhashBandPairs(sig: DataFrame): DataFrame = {
    val mask = (1L << SimBandBits) - 1
    // band b of h as SQL (band 0 needs no shift)
    def slice(h: String, b: Int): String =
      if (b == 0) s"($h & $mask)" else s"(($h >> ${SimBandBits * b}) & $mask)"
    val banded = sig.select(col("doc_id"), col("simhash"),
      explode(array((0 until SimBands).map(b => struct(lit(b).as("band"),
        shiftright(col("simhash"), SimBandBits * b).bitwiseAND(mask).as("bkey"))): _*))
        .as("bk"))
      .select(col("doc_id"), col("simhash"),
        col("bk.band").as("band"), col("bk.bkey").as("bkey"))
    banded
      .groupBy("band", "bkey")
      .agg(sort_array(collect_list(struct(col("doc_id"), col("simhash"))))
        .as("ds"))
      .filter(size(col("ds")) > 1)
      .select(col("band"), explode(expr(
        """flatten(transform(ds, (x, i) ->
          |  transform(slice(ds, i + 2, size(ds)),
          |    y -> struct(x.doc_id AS d1, x.simhash AS h1,
          |                y.doc_id AS d2, y.simhash AS h2))))""".stripMargin))
        .as("p"))
      // a qualifying pair collides in ≥2 bands (pigeonhole) and would
      // surface once per colliding band; emitting it ONLY from its
      // minimal colliding band — decidable in place from the two
      // signatures the pair row already carries — makes each pair
      // globally unique and deletes the old `distinct()` exchange
      // (guide §2.4: 4 exchanges → 3). Bit-exact: integer band-slice
      // equality, same rows out.
      .filter(col("band") === expr(
        minBandCase(SimBands)(b => s"${slice("p.h1", b)} = ${slice("p.h2", b)}")))
  }

  private val sqlLshPairs =
    s"""$sqlSignatures,
       |banded AS (
       |${(0 until 4).map(b =>
          s"  SELECT doc_id, $b AS band, CAST(mh_${3 * b} AS VARCHAR) || '_' || CAST(mh_${3 * b + 1} AS VARCHAR) || '_' || CAST(mh_${3 * b + 2} AS VARCHAR) AS bkey FROM sig")
          .mkString("\n  UNION ALL\n")}),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // SimHash signatures: majority-vote bit sketch of the token-hash stream —
    // bit-exact cross-engine (integer votes, shared rolling hash).
    QueryDef(
      "d_simhash_sig",
      (s, dir) => simhashSigs(s, dir).orderBy("doc_id"),
      Some(s"""WITH $sqlSimhashSigs
              |SELECT doc_id, CAST(simhash AS BIGINT) AS simhash
              |FROM sig ORDER BY doc_id""".stripMargin)),

    // SimHash near-dup pairs, all-pairs form: the bounded-subset ground-truth
    // verifier for d_simhash_banded below (which is the corpus-scale path).
    QueryDef(
      "d_simhash_pairs",
      (s, dir) => {
        val sig = simhashSigs(s, dir)
        val a = sig.select(col("doc_id").as("d1"), col("simhash").as("h1"))
        val b = sig.select(col("doc_id").as("d2"), col("simhash").as("h2"))
        a.crossJoin(b).filter(col("d1") < col("d2"))
          .withColumn("hamming", bit_count(col("h1").bitwiseXOR(col("h2"))))
          .filter(col("hamming") <= 1)
          .select("d1", "d2", "hamming")
          .orderBy("d1", "d2")
      },
      Some(s"""WITH $sqlSimhashSigs
              |SELECT a.doc_id AS d1, b.doc_id AS d2,
              |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
              |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
              |WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
              |ORDER BY d1, d2""".stripMargin)),


    // Banded SimHash candidate search — the corpus-scale pair path. The
    // 24-bit sketch splits into 3 8-bit bands; Hamming distance ≤ 1 flips at
    // most one band, so every qualifying pair collides in ≥ 2 bands
    // (pigeonhole) and is found by an equi-join on (band, band value) — no
    // all-pairs enumeration anywhere. Pairs are generated BUCKET-LOCALLY
    // (the lshPairs shape: one exchange on the band key, per-bucket i<j
    // combinations bounded by the 8-bit collision rate), signatures ride
    // along so the Hamming verification is in place, and each pair is
    // emitted only from its minimal colliding band. Must return exactly
    // d_simhash_pairs' rows.
    QueryDef(
      "d_simhash_banded",
      (s, dir) =>
        simhashBandPairs(simhashSigs(s, dir))
          .select(col("p.d1").as("d1"), col("p.d2").as("d2"),
            bit_count(col("p.h1").bitwiseXOR(col("p.h2"))).as("hamming"))
          .filter(col("hamming") <= 1)
          .orderBy("d1", "d2"),
      Some(s"""WITH $sqlSimhashSigs,
              |banded AS (
              |${(0 until 3).map(b =>
                 s"  SELECT doc_id, simhash, $b AS band, (simhash >> ${8 * b}) & 255 AS bkey FROM sig")
                 .mkString("\n  UNION ALL\n")})
              |SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
              |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
              |FROM banded a JOIN banded b
              |  ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
              |WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
              |ORDER BY d1, d2""".stripMargin)),

    // Exact dedup census: total vs content-distinct (md5 is identical cross-engine).
    QueryDef(
      "d_exact_count",
      (s, dir) =>
        corpus(s, dir).agg(
          count(lit(1)).as("n_total"),
          countDistinct(md5(col("text").cast("binary"))).as("n_unique")),
      Some(s"""WITH $sqlCorpus
              |SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
              |       CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique
              |FROM corpus""".stripMargin)),

    // Exact dedup groups: hash-groupBy on md5(text), keep min doc_id per group,
    // report duplicate groups (must be exactly the 40 planted ones).
    QueryDef(
      "d_exact_groups",
      (s, dir) =>
        corpus(s, dir)
          .groupBy(md5(col("text").cast("binary")).as("h"))
          .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
          .filter(col("n_copies") > 1)
          .select("keep_id", "n_copies", "h")
          .orderBy("keep_id"),
      Some(s"""WITH $sqlCorpus
              |SELECT min(doc_id) AS keep_id, CAST(COUNT(*) AS BIGINT) AS n_copies,
              |       md5(text) AS h
              |FROM corpus GROUP BY md5(text) HAVING COUNT(*) > 1
              |ORDER BY keep_id""".stripMargin)),

    // N-gram Jaccard near-dup pairs (exact, all-pairs on the bounded subset): the
    // ground-truth verifier for the LSH path.
    QueryDef(
      "d_ngram_jaccard",
      (s, dir) => {
        val sh = shingles(s, dir)
        val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
        val a = sh.select(col("doc_id").as("d1"), col("sh"))
        val b = sh.select(col("doc_id").as("d2"), col("sh"))
        val inter = a.join(b, Seq("sh")).filter(col("d1") < col("d2"))
          .groupBy("d1", "d2").agg(count(lit(1)).as("inter"))
        inter
          .join(sizes.withColumnRenamed("doc_id", "d1")
            .withColumnRenamed("n_sh", "n1"), Seq("d1"))
          .join(sizes.withColumnRenamed("doc_id", "d2")
            .withColumnRenamed("n_sh", "n2"), Seq("d2"))
          .select(col("d1"), col("d2"),
            (col("inter") / (col("n1") + col("n2") - col("inter"))).as("jac"))
          .filter(col("jac") >= 0.6)
          .orderBy("d1", "d2")
      },
      Some(s"""WITH $sqlShingles,
              |sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id),
              |inter AS (
              |  SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(COUNT(*) AS BIGINT) AS inter
              |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
              |  GROUP BY a.doc_id, b.doc_id)
              |SELECT d1, d2, inter / (s1.n_sh + s2.n_sh - inter) AS jac
              |FROM inter
              |JOIN sizes s1 ON s1.doc_id = d1
              |JOIN sizes s2 ON s2.doc_id = d2
              |WHERE inter / (s1.n_sh + s2.n_sh - inter) >= 0.6
              |ORDER BY d1, d2""".stripMargin)),

    // MinHash signatures (shingle→minhash): bit-exact against the oracle thanks to
    // the shared rolling hash + order-independent MIN.
    QueryDef(
      "d_minhash_sig",
      (s, dir) => signatures(s, dir).orderBy("doc_id"),
      Some(s"""WITH $sqlSignatures
              |SELECT * FROM sig ORDER BY doc_id""".stripMargin)),

    // MinHash LSH candidate pairs (band→bucket-join): 4 bands × 3 rows. At corpus
    // scale this is the dedup join — candidates only, verified by d_ngram_jaccard.
    QueryDef(
      "d_minhash_lsh_pairs",
      (s, dir) => lshPairs(s, dir).orderBy("d1", "d2"),
      Some(s"""WITH $sqlLshPairs
              |SELECT d1, d2 FROM pairs ORDER BY d1, d2""".stripMargin)),

    // Duplicate-group clustering: transitive closure of the LSH candidate
    // pairs via distributed min-label propagation
    // (operators.ConnectedComponents) — the "keep one doc per near-dup
    // group" step of a corpus pipeline. The oracle computes the same
    // components with a recursive CTE propagating min labels (pruned to
    // labels smaller than the receiving node, which cannot cut off the
    // component minimum).
    QueryDef(
      "d_cc_labels",
      (s, dir) => {
        import graft.operators.ConnectedComponents
        val edges = lshPairs(s, dir)
          .select(col("d1").as("src"), col("d2").as("dst"))
        ConnectedComponents.run(edges)
          .select(col("id").as("doc_id"), col("comp").as("component"),
            (col("id") === col("comp")).as("is_canonical"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $sqlLshPairs,
              |edges AS (
              |  SELECT d1 AS id, d2 AS nb FROM pairs
              |  UNION
              |  SELECT d2 AS id, d1 AS nb FROM pairs),
              |reach(id, comp) AS (
              |  SELECT DISTINCT id, id FROM edges
              |  UNION
              |  SELECT e.id, r.comp FROM edges e JOIN reach r ON r.id = e.nb
              |  WHERE r.comp < e.id)
              |SELECT id AS doc_id, MIN(comp) AS component,
              |       (id = MIN(comp)) AS is_canonical
              |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin)),

    // The last step of the dedup pipeline: pairs → clusters → keep the BEST
    // doc per cluster by a quality signal (token count here; longest version
    // wins, min doc_id tiebreak) — not merely the lowest id. Composes
    // ConnectedComponents with the text-quality surface.
    QueryDef(
      "d_cc_keep_best",
      (s, dir) => {
        import graft.operators.ConnectedComponents
        import org.apache.spark.sql.expressions.Window
        val comps = ConnectedComponents.run(
          lshPairs(s, dir).select(col("d1").as("src"), col("d2").as("dst")))
          .select(col("id").as("doc_id"), col("comp").as("component"))
        val toks = corpus(s, dir).select(col("doc_id"),
          expr("size(filter(split(text, ' '), x -> x != ''))")
            .cast("long").as("n_tok"))
        val w = Window.partitionBy("component")
          .orderBy(col("n_tok").desc, col("doc_id"))
        comps.join(toks, Seq("doc_id"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .groupBy()
          .agg(count(lit(1)).as("n_clusters"),
            sum("n_tok").as("kept_tokens"),
            min("doc_id").as("min_keep_id"),
            max("doc_id").as("max_keep_id"))
      },
      Some(s"""WITH RECURSIVE $sqlLshPairs,
              |edges AS (
              |  SELECT d1 AS id, d2 AS nb FROM pairs
              |  UNION
              |  SELECT d2 AS id, d1 AS nb FROM pairs),
              |reach(id, comp) AS (
              |  SELECT DISTINCT id, id FROM edges
              |  UNION
              |  SELECT e.id, r.comp FROM edges e JOIN reach r ON r.id = e.nb
              |  WHERE r.comp < e.id),
              |labels AS (
              |  SELECT id AS doc_id, MIN(comp) AS component FROM reach GROUP BY id),
              |toks AS (
              |  SELECT doc_id,
              |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tok
              |  FROM corpus),
              |ranked AS (
              |  SELECT l.doc_id, l.component, t.n_tok,
              |    ROW_NUMBER() OVER (PARTITION BY l.component
              |      ORDER BY t.n_tok DESC, l.doc_id) AS rn
              |  FROM labels l JOIN toks t ON t.doc_id = l.doc_id)
              |SELECT CAST(COUNT(*) AS BIGINT) AS n_clusters,
              |  CAST(SUM(n_tok) AS BIGINT) AS kept_tokens,
              |  MIN(doc_id) AS min_keep_id, MAX(doc_id) AS max_keep_id
              |FROM ranked WHERE rn = 1""".stripMargin)),

    // Edit-distance verification of the LSH candidates — the standard fuzzy-dedup
    // pipeline tail: cheap sketch proposes, exact Levenshtein confirms. The
    // quadratic-cost distance runs ONLY on candidate pairs (|pairs| ~ corpus ·
    // collision rate), never all-pairs; the text join-back broadcasts the small
    // pair set against the corpus scan. Match = distance within 10% of the longer
    // text (integer arithmetic, so both engines agree exactly).
    QueryDef(
      "d_fuzzy_verify",
      (s, dir) => {
        val pairs = lshPairs(s, dir)
        val txt = corpus(s, dir)
        pairs
          .join(txt.select(col("doc_id").as("d1"), col("text").as("t1")), Seq("d1"))
          .join(txt.select(col("doc_id").as("d2"), col("text").as("t2")), Seq("d2"))
          // bounded (banded) Levenshtein: pass the match bound as the
          // threshold so the DP runs O(n·k) with early exit instead of O(n·m)
          // — candidates are near-identical long docs, where this is ~10×.
          // Exceeding the bound returns -1, which the filter drops; results
          // are identical to the unbounded form the oracle states.
          .withColumn("mx", greatest(length(col("t1")), length(col("t2"))))
          // exact-copy short-circuit: LSH candidate sets are dominated by
          // exact duplicates, whose O(n·k) DP the byte-equality check skips
          // (lev is 0 either way; null texts fall through to levenshtein and
          // stay null-dropped as before)
          .withColumn("lev",
            when(col("t1") === col("t2"), lit(0L)).otherwise(
              expr("levenshtein(t1, t2, CAST(mx / 10 AS INT))").cast("long")))
          .filter(col("lev") >= 0 && col("lev") * 10 <= col("mx"))
          .select("d1", "d2", "lev")
          .orderBy("d1", "d2")
      },
      Some(s"""WITH $sqlLshPairs,
              |verified AS (
              |  SELECT p.d1, p.d2,
              |         CAST(levenshtein(c1.text, c2.text) AS BIGINT) AS lev,
              |         greatest(length(c1.text), length(c2.text)) AS mx
              |  FROM pairs p
              |  JOIN corpus c1 ON c1.doc_id = p.d1
              |  JOIN corpus c2 ON c2.doc_id = p.d2)
              |SELECT d1, d2, lev FROM verified
              |WHERE lev * 10 <= mx ORDER BY d1, d2""".stripMargin)),

    // Cross-document duplicated-span coverage (Lee et al., ACL 2022 — the
    // exact-substring dedup signal, re-expressed as a hashed 8-gram inverted
    // index + gaps-and-islands interval union; see operators/DupSpans).
    // Runs on the RAW documents table: unlike the planted-dup queries above,
    // the signal here is the organically shared token runs in the corpus.
    // The operator groups by xxhash64(gram) (fixed-width shuffle keys); the
    // oracle groups by the gram string itself — identical results barring a
    // 64-bit collision (~n²/2^65).
    QueryDef(
      "d_dup_spans",
      (s, dir) =>
        graft.operators.DupSpans
          .coverage(Tables.documents(s, dir), "doc_id", "text", k = 8)
          .orderBy("doc_id"),
      Some("""WITH toks AS (
             |  SELECT doc_id,
             |         list_filter(string_split_regex(COALESCE(text, ''), '\s+'),
             |                     t -> t <> '') AS ts
             |  FROM documents),
             |tn AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens, ts FROM toks),
             |grams AS (
             |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
             |         array_to_string(list_slice(ts, i, i + 7), ' ') AS ng
             |  FROM tn, UNNEST(range(1, len(ts) - 6)) AS t(i)
             |  WHERE len(ts) >= 8),
             |dup AS (SELECT ng FROM grams GROUP BY ng HAVING COUNT(DISTINCT doc_id) >= 2),
             |m AS (SELECT doc_id, pos, pos + 7 AS endpos FROM grams JOIN dup USING (ng)),
             |b AS (SELECT doc_id, pos, endpos,
             |        CASE WHEN pos > COALESCE(MAX(endpos) OVER (PARTITION BY doc_id
             |             ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
             |        THEN 1 ELSE 0 END AS brk FROM m),
             |g AS (SELECT doc_id, SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid,
             |        pos, endpos FROM b),
             |cov AS (SELECT doc_id, gid, MAX(endpos) - MIN(pos) + 1 AS covered
             |        FROM g GROUP BY doc_id, gid),
             |dt AS (SELECT doc_id, CAST(SUM(covered) AS BIGINT) AS dup_tokens
             |       FROM cov GROUP BY doc_id)
             |SELECT t.doc_id, t.n_tokens,
             |       COALESCE(dt.dup_tokens, 0) AS dup_tokens,
             |       CASE WHEN t.n_tokens = 0 THEN 0.0
             |            ELSE COALESCE(dt.dup_tokens, 0) / CAST(t.n_tokens AS DOUBLE)
             |       END AS dup_frac
             |FROM tn t LEFT JOIN dt USING (doc_id) ORDER BY doc_id""".stripMargin)),
  )
}
