package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Checkpoints.{pin, release, scoped}

/** Distributed byte-pair-encoding tokenizer TRAINING — the real merge
  * algorithm (iterative pair-count → pick → merge), not a regex
  * approximation: the first stage of any LLM text pipeline (learn a merge
  * table on the corpus, then tokenize everything with it).
  *
  * Algorithm (Sennrich et al. 2016, arXiv:1508.07909): start from each
  * word as a character sequence plus an end-of-word marker; repeat K times:
  * count all adjacent symbol pairs weighted by word frequency, merge the
  * most frequent pair everywhere (ties broken DETERMINISTICALLY: count
  * desc, then lexicographic on (left, right) — both engines compare ASCII
  * strings identically, so the whole iteration is oracle-able the same way
  * PageRank is: unrolled `AS MATERIALIZED` DuckDB CTEs, hash-exact, no
  * tolerance).
  *
  * Scale shape: the unit of iteration is the DISTINCT-WORD table (vocab ≪
  * corpus — the classic BPE-trainer trick), built with one hash-agg shuffle
  * over the corpus. Each round is then one explode + hash-agg (map-side
  * partial) over the word table for pair counts, a TakeOrdered(1) for the
  * winner, and a map-side fold to apply the merge; `localCheckpoint` every
  * few rounds keeps the plan shallow (PageRank's discipline), and every
  * intermediate cache is released on return. The merge table itself is a
  * MODEL artifact (like KMeans centroids / PQ codebooks): K × 1-row
  * driver fetches, not data movement.
  *
  * Merge semantics: leftmost-first non-overlapping, expressed as a single
  * left-to-right fold — `acc` ends with `left` and the next symbol is
  * `right` → replace the tail with `left+right`. The fold cannot re-trigger
  * on its own output within a round (the merged token ≠ `left` since
  * `right` is non-empty), which is exactly the scan semantics of the
  * reference implementations.
  */
object Bpe {

  /** One learned merge: at `step`, `left`+`right` (weighted occurrence
    * count `pairCount`) became one token. */
  final case class Merge(step: Int, left: String, right: String, pairCount: Long)

  /** `merges` in learned order; `words` = the distinct-word table after all
    * merges: (word, cnt, sym array<string>) — the corpus retokenized. */
  final case class Model(merges: Seq[Merge], words: DataFrame)

  /** Marker appended to every word so merges can't cross word boundaries
    * and word-final tokens are distinct from word-internal ones. */
  val EndOfWord = "</w>"

  /** Lowercased letter-run words with occurrence counts — the corpus
    * pre-tokenization (one shuffle; everything iterative happens on this
    * far smaller frame). */
  def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(lower(col(textCol)), "[^a-z]+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Adjacent-pair counts over the symbol arrays, weighted by word count. */
  private def pairCounts(words: DataFrame): DataFrame =
    words.select(col("cnt"), explode(expr(
        """transform(slice(sym, 1, size(sym) - 1),
          |  (x, i) -> struct(x AS l, element_at(sym, i + 2) AS r))"""
          .stripMargin)).as("pr"))
      .groupBy(col("pr.l").as("l"), col("pr.r").as("r"))
      .agg(sum(col("cnt")).as("c"))

  // ---- string-encoded symbol sequences (training-loop internal) ----------
  //
  // The train loop stores each word's symbol sequence as ONE string, every
  // token wrapped in U+001F unit separators (SEP below; SEP cannot occur in
  // [a-z]/"</w>" tokens): "SEP t1 SEP SEP t2 SEP ... SEP tn SEP". A merge is
  // then a single codegen'd `replace`: UTF8String.replace's left-to-right
  // non-overlapping scan, search "SEP l SEP SEP r SEP" -> "SEP l+r SEP", is
  // EXACTLY [[mergeFold]]'s leftmost-first non-overlapping semantics (one
  // pass is exhaustive -- the merged token != `left`, see class doc), and
  // the per-token wrapping makes a cross-token-boundary false match
  // impossible; adjacent wrapped matches do not share a separator
  // ("l,r,l,r" encodes with both "SEP l SEP SEP r SEP" occurrences
  // disjoint), so one replace pass merges them all, like the fold.
  // Motivation (r18 stage profile): the nested `aggregate` HOF fold chains
  // were what each round's driver re-analysis paid for -- ~60 ms/round of
  // scheduling gap against 3-15 ms of executor work; flat `replace` chains
  // collapse to one cheap projection. BpeSpec pins the trained merge
  // sequence and path equalities; the t_bpe_train oracle hash-gates the
  // merges end-to-end.
  private val Sep = "\u001f"

  /** sym array<string> column -> wrapped-string encoding. */
  private def symToStr(sym: Column): Column =
    concat(lit(Sep), array_join(sym, Sep + Sep), lit(Sep))

  /** Wrapped-string encoding -> sym array<string> column. Split on the
    * SINGLE separator char (String.split's no-regex fast path — the quoted
    * two-char pattern compiled a java.util.regex.Pattern per row) and drop
    * the empty strings the wrapping produces; tokens are never empty. */
  private def strToSym(s: Column): Column =
    array_remove(split(s, Sep), "")

  /** One merge applied to the wrapped-string encoding (see block comment). */
  private def mergeReplace(s: Column, left: String, right: String): Column =
    replace(s, lit(Sep + left + Sep + Sep + right + Sep),
      lit(Sep + left + right + Sep))

  /** One merge applied to a symbol-array column: left-to-right fold,
    * leftmost-first non-overlapping (see class doc). `try_element_at`
    * yields NULL (→ no match) on the empty accumulator, so the fold is
    * ANSI-safe without a size guard. */
  def mergeFold(sym: Column, left: String, right: String): Column =
    aggregate(sym, array().cast("array<string>"), (acc, x) =>
      when(try_element_at(acc, lit(-1)) === lit(left) && x === lit(right),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(left + right))))
        .otherwise(concat(acc, array(x))))

  /** Below these, the merge loop runs DRIVER-LOCAL (the PageRank
    * small-graph / bigram-pin discipline): the unit of iteration is the
    * DISTINCT-WORD table — a model-artifact-scale frame for any corpus with
    * a natural-language vocabulary — and the distributed loop's cost is
    * pure per-job driver latency (r18 stage profile: ~40 jobs × ~40 ms of
    * analysis+scheduling around 3–15 ms of executor work = 62% dead wall).
    * The one corpus-scale pass (wordCounts) is ALWAYS distributed; the
    * collect is byte-metered during fetch (the t_bigram_lm pin pattern) so
    * a pathological vocabulary falls back to the distributed loop instead
    * of stressing the driver. Local ≡ distributed is spec-pinned
    * (BpeSpec), and the t_bpe_train oracle hash-gates the merges. */
  val LocalMaxWords: Int = 1 << 19
  val LocalMaxBytes: Long = 128L << 20

  /** Train a merge table of (at most) `maxMerges` merges on `docs(textCol)`.
    * Stops early when no adjacent pairs remain (every word one token).
    *
    * `localMaxWords` gates the driver-local loop (see [[LocalMaxWords]]);
    * pass 0 to force the distributed iteration.
    *
    * Distributed-loop session scoping (the PageRank discipline, r18): the
    * ONE corpus-scale pass — wordCounts — runs on the caller's session at
    * its data-sized partitioning; everything after iterates over the
    * vocab-bounded word table, so the K winner jobs run on a private
    * session with AQE OFF and the shuffle-partition count sized to the
    * MEASURED checkpointed frame. A private session (not save/restore on
    * the caller) because the confs are session-global and a
    * concurrently-planned query would silently inherit them. */
  def train(docs: DataFrame, textCol: String, maxMerges: Int,
      localMaxWords: Int = LocalMaxWords): Model = {
    require(maxMerges >= 0, s"maxMerges must be >= 0, got $maxMerges")
    // materialize the base word table once: every round's winner job would
    // otherwise re-run the corpus scan + agg. Leaving the scope frees it
    // (and the last round's checkpoint); only the returned word table stays.
    val caller = docs.sparkSession
    scoped {
      val words0 = pin(wordCounts(docs, textCol)
        .withColumn("symstr", symToStr(
          concat(split(col("word"), ""), array(lit(EndOfWord))))))
      // byte-metered local fetch: stop pulling the moment the gate is
      // exceeded (never pay a full collect to discard it)
      val local = if (localMaxWords <= 0) None else {
        val it = words0.select(col("word"), col("cnt")).toLocalIterator()
        val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
        var bytes = 0L
        var fits = true
        while (fits && it.hasNext) {
          val r = it.next()
          val w = r.getString(0)
          buf += ((w, r.getLong(1)))
          bytes += 64L + 2L * w.length // object + UTF-16 chars, rough
          if (buf.length > localMaxWords || bytes > LocalMaxBytes) fits = false
        }
        Option.when(fits)(buf.toSeq)
      }
      local match {
        case Some(buf) => trainLocal(caller, buf, maxMerges)
        case None => trainDistributed(caller, words0, maxMerges)
      }
    }
  }

  private def trainDistributed(caller: org.apache.spark.sql.SparkSession,
      words0: DataFrame, maxMerges: Int): Model = {
    val iso = caller.newSession()
    caller.conf.getAll.foreach { case (k, v) =>
      if (iso.conf.isModifiable(k) && iso.conf.getOption(k) != Some(v))
        try iso.conf.set(k, v)
        catch { case _: org.apache.spark.sql.AnalysisException => () }
    }
    iso.conf.set("spark.sql.adaptive.enabled", "false")
    iso.conf.set("spark.sql.shuffle.partitions",
      frameParts(words0, caller).toString)
    val vid = viewIds.incrementAndGet()
    val inView = s"graft_bpe_in_$vid"
    val outView = s"graft_bpe_out_$vid"
    try {
      words0.createOrReplaceGlobalTempView(inView)
      var words = iso.table(s"global_temp.$inView")
      var lastCut: Option[DataFrame] = None
      val merges = scala.collection.mutable.Buffer.empty[Merge]
      var exhausted = false
      while (merges.size < maxMerges && !exhausted) {
        val step = merges.size + 1
        val top = pairCounts(
            words.select(col("cnt"), strToSym(col("symstr")).as("sym")))
          .orderBy(col("c").desc, col("l"), col("r")).limit(1).collect()
        top.headOption match {
          case None => exhausted = true // no pairs left anywhere
          case Some(row) =>
            val (l, r) = (row.getString(0), row.getString(1))
            merges += Merge(step, l, r, row.getLong(2))
            words = words.withColumn("symstr",
              mergeReplace(col("symstr"), l, r))
            // checkpoint cadence: bounds each winner job's re-executed
            // lineage to a few replace projections. Cadence measured r18:
            // every-round checkpointing (PageRank's cut-every-round shape)
            // is 3× WORSE here (2.5 → 6–11 s at sf0.1) — each eager
            // checkpoint job materializes the full frame into storage
            // blocks, which costs far more than the re-analysis it saves.
            // The superseded checkpoint is dead once the new one is
            // materialized (words0 stays until the scope exits).
            if (step % 4 == 0) {
              words = pin(words)
              lastCut.foreach(release)
              lastCut = Some(words)
            }
        }
      }
      val result = pin(words
        .select(col("word"), col("cnt"), strToSym(col("symstr")).as("sym")))
      result.createOrReplaceGlobalTempView(outView)
      // re-root onto the caller session; the blocks are the iso checkpoint's
      Model(merges.toSeq, caller.table(s"global_temp.$outView"))
    } finally {
      caller.catalog.dropGlobalTempView(inView)
      caller.catalog.dropGlobalTempView(outView)
      ()
    }
  }

  /** The driver-local merge loop: operation-for-operation the distributed
    * iteration — pair counts are exact long sums over adjacent symbols
    * weighted by word count (order-free), the winner is max count with
    * ascending (left, right) tie-break (Java String compareTo ≡ UTF8String
    * binary compare on these ASCII tokens), and the merge applies
    * leftmost-first non-overlapping (the [[mergeFold]] scan). Spec-pinned
    * bit-identical to the distributed path (BpeSpec). */
  private def trainLocal(spark: org.apache.spark.sql.SparkSession,
      words: Seq[(String, Long)], maxMerges: Int): Model = {
    val syms = words.map { case (w, _) =>
      val b = new scala.collection.mutable.ArrayBuffer[String](w.length + 1)
      w.foreach(c => b += c.toString)
      b += EndOfWord
      b
    }.toArray
    val cnts = words.map(_._2).toArray
    val merges = scala.collection.mutable.Buffer.empty[Merge]
    var exhausted = false
    while (merges.size < maxMerges && !exhausted) {
      val counts = new java.util.HashMap[(String, String), java.lang.Long]()
      var i = 0
      while (i < syms.length) {
        val s = syms(i)
        val c = cnts(i)
        var j = 0
        while (j < s.length - 1) {
          val key = (s(j), s(j + 1))
          val cur = counts.get(key)
          counts.put(key, if (cur == null) c else cur + c)
          j += 1
        }
        i += 1
      }
      if (counts.isEmpty) exhausted = true // no pairs left anywhere
      else {
        var bl: String = null
        var br: String = null
        var bc = Long.MinValue
        val it = counts.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val (l, r) = e.getKey
          val c = e.getValue.longValue()
          if (c > bc || (c == bc &&
              (l < bl || (l == bl && r < br)))) {
            bl = l; br = r; bc = c
          }
        }
        merges += Merge(merges.size + 1, bl, br, bc)
        var i2 = 0
        while (i2 < syms.length) {
          val s = syms(i2)
          var j = 0
          while (j < s.length - 1) {
            if (s(j) == bl && s(j + 1) == br) {
              s(j) = bl + br
              s.remove(j + 1)
            }
            j += 1
          }
          i2 += 1
        }
      }
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("word",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("cnt",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("sym",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType, containsNull = false),
        nullable = false)))
    val rows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(words.indices.map(i =>
        org.apache.spark.sql.Row(words(i)._1, cnts(i), syms(i).toSeq)): _*)
    Model(merges.toSeq, spark.createDataFrame(rows, schema))
  }

  /** Unique suffixes for the cross-session handoff views (two concurrent
    * trains on one application must not clobber each other's). */
  private val viewIds = new java.util.concurrent.atomic.AtomicLong

  /** Shuffle-partition count for the iteration, sized to the MEASURED
    * storage footprint of the checkpointed word table (the block manager
    * knows the materialized bytes exactly — no estimate needed): one
    * partition per 64 MiB of in-memory frame, clamped to [1, caller's
    * count]. The per-round pair-count exchange carries at most the
    * map-side-aggregated distinct-pair table, which is the same order as
    * the word table itself. */
  private def frameParts(checkpointed: DataFrame,
      caller: org.apache.spark.sql.SparkSession): Int = {
    val callerP = caller.conf.get("spark.sql.shuffle.partitions").toInt
    checkpointed.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        caller.sparkContext.getRDDStorageInfo.find(_.id == l.rdd.id)
          .map { info =>
            val bytes = info.memSize + info.diskSize
            (((bytes + (64L << 20) - 1) / (64L << 20)).toInt)
              .max(1).min(callerP)
          }.getOrElse(callerP)
      case _ => callerP
    }
  }

  /** Tokenize text with a learned merge table: per word, chars + EndOfWord,
    * then every merge applied IN LEARNED ORDER (each exhaustively — the
    * same sequential semantics training itself applies, so training-corpus
    * words round-trip to their trained segmentation exactly). Map-side
    * only; the merge table rides as K nested fold expressions. */
  def tokenize(docs: DataFrame, textCol: String, merges: Seq[Merge],
      outCol: String = "bpe_tokens"): DataFrame = {
    val ordered = merges.sortBy(_.step)
    docs.withColumn(outCol, flatten(transform(
      filter(split(lower(col(textCol)), "[^a-z]+"), w => w =!= ""),
      w => ordered.foldLeft(concat(split(w, ""), array(lit(EndOfWord)))) {
        (sym, m) => mergeFold(sym, m.left, m.right)
      })))
  }

  /** [[tokenize]] for PRODUCTION merge tables. The expression path embeds
    * one nested fold per merge — perfect at oracle scale (K ≤ a few dozen:
    * codegen'd, plan-visible) but a real tokenizer carries ~32k merges, and
    * a 32k-deep expression tree breaks analysis long before codegen. This
    * path compiles the table to a rank map once on the driver (a few MB —
    * model-artifact sized, broadcast by closure) and applies it per
    * partition: repeatedly merge the LOWEST-RANK adjacent pair, leftmost on
    * ties. Equivalent to applying merges in learned order exhaustively —
    * a merge's left/right symbols are produced only by strictly EARLIER
    * merges, so no later merge can enable an earlier one
    * (`BpeSpec` pins path equality on trained corpora and the overlap
    * cases). A per-partition word→tokens cache (vocab-bounded, capped)
    * exploits the Zipf shape: each distinct word is segmented once.
    * `mapPartitions` is the documented last resort — held here to the same
    * bar as the media codecs: a per-row recurrence over driver-compiled
    * model state.
    */
  def tokenizeCompiled(docs: DataFrame, textCol: String, merges: Seq[Merge],
      outCol: String = "bpe_tokens", cacheCap: Int = 1 << 20): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{ArrayType, StringType}
    require(!docs.columns.contains(outCol),
      s"tokenizeCompiled: output column '$outCol' already exists")
    val ranks = merges.map(m => (m.left, m.right) -> m.step).toMap
    val idx = docs.schema.fieldIndex(textCol)
    val schema = docs.schema.add(outCol, ArrayType(StringType, containsNull = false))
    docs.mapPartitions { rows =>
      val cache = new java.util.HashMap[String, Array[String]]()
      rows.map { row =>
        val toks: Seq[String] =
          if (row.isNullAt(idx)) null // match the expression path: null text → null
          else {
            val words = row.getString(idx)
              .toLowerCase(java.util.Locale.ROOT).split("[^a-z]+")
            val out = Seq.newBuilder[String]
            words.foreach { w =>
              if (w.nonEmpty) {
                var segs = cache.get(w)
                if (segs == null) {
                  segs = segmentWord(w, ranks)
                  if (cache.size < cacheCap) cache.put(w, segs)
                }
                out ++= segs
              }
            }
            out.result()
          }
        Row.fromSeq(row.toSeq :+ toks)
      }
    }(Encoders.row(schema))
  }

  /** Greedy lowest-rank-first merge of one word (see [[tokenizeCompiled]]).
    * O(len²·scan) worst case, amortized away by the word cache. */
  private def segmentWord(word: String, ranks: Map[(String, String), Int]): Array[String] = {
    val syms = scala.collection.mutable.ArrayBuffer.empty[String]
    word.foreach(c => syms += c.toString)
    syms += EndOfWord
    var done = false
    while (!done && syms.length > 1) {
      var bestRank = Int.MaxValue
      var bestI = -1
      var i = 0
      while (i < syms.length - 1) {
        val r = ranks.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < bestRank) { bestRank = r; bestI = i }
        i += 1
      }
      if (bestI < 0) done = true
      else {
        syms(bestI) = syms(bestI) + syms(bestI + 1)
        syms.remove(bestI + 1)
      }
    }
    syms.toArray
  }
}
