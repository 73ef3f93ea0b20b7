package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.
  *
  * Scale design: every variant is candidate-generation-by-key →
  * within-bucket verification. Nothing ever compares all N² pairs:
  *  - exact: one hash-groupBy shuffle.
  *  - MinHash LSH: signature is per-row column math (codegen'd
  *    xxhash64, no UDF); banding explodes to b rows/doc, then one
  *    groupBy(band, hash) shuffle; pairs form only inside buckets.
  *  - SimHash: 64-bit signature per row; candidates join on rotated
  *    prefix blocks (Hamming-adjacent docs share a block).
  *  - embedding near-dup: LSH via random-hyperplane sign bits.
  */
object Dedup {

  /** Word shingles (n-grams) as a pure column expression.
    *
    * Measured note: a single-pass Scala UDF version of this is ~50%
    * SLOWER at sf0.1 (1.5s → 2.3s for the Jaccard query) even though
    * the HOF tree is interpreted — the UDF pays UTF8String↔String
    * conversion + array boxing on every row, while the HOF pipeline
    * stays on unsafe arrays. Used ONCE per pipeline (immediately
    * exploded), so the round-1 inline-blowup hazard doesn't apply. */
  /** One-pass DISTINCT shingle-hash kernel (first-occurrence order):
    * tokens → sliding n-grams → 60-bit md5 prefix, deduped — value-
    * identical to `conv(substring(md5(explode(shingles(text, n))),
    * 1, 15), 16, 10)` (TextSpec proves the per-doc identity), with no
    * gram strings or HOF tree
    * in the plan. null when the document has fewer than n tokens
    * (like the relational path, which then emits no grams). Shared by
    * [[ngramJaccard]] and [[Curation.decontaminate]]. */
  private[graft] def shingleHashesSerial(text: String, n: Int): Array[Long] =
    shingleHashesFromToks(tokensOf(text), n)

  /** The shared `\w+`-on-lowercase tokenization every serial text
    * kernel uses — extracted so a fused multi-output kernel (the
    * q_curate one-pass) tokenizes ONCE and feeds each hash family the
    * same token array. */
  private[graft] def tokensOf(text: String): Array[String] = {
    val m = java.util.regex.Pattern.compile("\\w+").matcher(text.toLowerCase(java.util.Locale.ROOT))
    val toks = new scala.collection.mutable.ArrayBuffer[String]()
    while (m.find()) toks += m.group()
    toks.toArray
  }

  /** [[shingleHashesSerial]] body over a pre-tokenized array. */
  private[graft] def shingleHashesFromToks(toks: Array[String], n: Int): Array[Long] = {
    if (toks.length < n) return null
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    val md = java.security.MessageDigest.getInstance("MD5")
    var i = 0
    while (i + n <= toks.length) {
      val sb = new StringBuilder(toks(i))
      var j = 1
      while (j < n) { sb += ' '; sb ++= toks(i + j); j += 1 }
      md.reset()
      val d = md.digest(sb.toString.getBytes("UTF-8"))
      var hv = 0L
      var b = 0
      while (b < 7) { hv = (hv << 8) | (d(b) & 0xffL); b += 1 }
      hv = (hv << 4) | ((d(7) & 0xf0L) >> 4)
      seen.add(hv)
      i += 1
    }
    seen.toArray(new Array[java.lang.Long](0)).map(_.longValue())
  }

  def shingles(text: Column, n: Int): Column = {
    val toks = regexp_extract_all(lower(text), lit("\\w+"), lit(0))
    // sliding n-grams via transform over start indices
    array_distinct(
      filter(
        transform(
          sequence(lit(0), greatest(size(toks) - n, lit(0))),
          i => when(i + n <= size(toks), concat_ws(" ", slice(toks, i + 1, lit(n))))
        ),
        x => x.isNotNull
      )
    )
  }

  /** ◆ Exact dedup: hash-groupBy on content digest (generalizes the
    * reference's `ix_entries_hash` duplicate lookup, `database.cpp:54`). */
  def exactDupGroups(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables
      .documents(s, dir)
      .groupBy(md5($"text".cast("binary")).as("h"))
      .agg(count(lit(1)).as("copies"), min($"doc_id").as("keeper"))
      .filter($"copies" > 1)
  }

  /** ◆ Dedup keep-first: distinct document count by content. */
  def dedupCount(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables
      .documents(s, dir)
      .agg(
        count(lit(1)).as("total_docs"),
        countDistinct(md5($"text".cast("binary"))).as("distinct_docs")
      )
  }

  /** MinHash universe: 60-bit md5 shingle hash folded into GF(p),
    * p = 2³¹−1, with k linear permutations h_i(x) = (a_i·x + b_i) mod p.
    * Every constant is embedded identically in the SQL oracle, so the
    * whole sketch is hash-compare checkable — the reason for md5 over
    * xxhash64 (DuckDB has no xxhash). a_i·x stays < 2⁶² — no overflow
    * in either engine. */
  val MinhashP = 2147483647L
  def minhashA(i: Int): Long = (2654435761L * (i + 1)) % MinhashP
  def minhashB(i: Int): Long = (40503L * (i + 1) * (i + 1) + 17L) % MinhashP

  /** MinHash + LSH banding, r=1 (one signature position per band).
    * Docs sharing any signature position become candidate pairs, and
    * the estimated Jaccard is counted from the inverted index itself
    * (groupBy pair = number of equal positions) — signature arrays
    * never ride a shuffle and no N² compare exists. r=1 makes the
    * candidate set provably complete for ANY threshold > 0 (a pair
    * with est ≥ θ shares ≥ ⌈θ·k⌉ ≥ 1 positions), which is also what
    * lets the SQL oracle reproduce the result exactly.
    *
    * Signature construction history (all measured on the full bench):
    * r8's k nested `array_min(transform(...))` expressions lost to the
    * explode-shingles → k min-aggregates shape (k× HOF recompute);
    * r11 replaced the explode+groupBy with [[minhashSigSerial]] —
    * official bench 6.6 s → 0.8 s, because the signature shuffle and
    * the per-shingle rows disappear entirely.
    */
  /** One-pass k-min signature per document: tokens → sliding shingles
    * → md5-folded GF(p) hash → k running minima, all inside one
    * projection. Value-identical to the explode+groupBy construction
    * (TextSpec proves the underlying shingle-hash identity;
    * DedupExactSpec gates the signature bounds) but with NO
    * per-shingle rows and NO signature
    * shuffle — the k×shingle multiply-min loop runs in place. Docs
    * with fewer than nGram tokens drop out, exactly like the explode
    * path. */
  private[graft] def minhashSigSerial(text: String, nGram: Int, k: Int): Array[Long] =
    minhashSigFromToks(tokensOf(text), nGram, k)

  /** [[minhashSigSerial]] body over a pre-tokenized array. */
  private[graft] def minhashSigFromToks(toks: Array[String], nGram: Int, k: Int): Array[Long] = {
    if (toks.length < nGram) return null
    val mins = Array.fill(k)(Long.MaxValue)
    val md = java.security.MessageDigest.getInstance("MD5")
    var i = 0
    while (i + nGram <= toks.length) {
      val sb = new StringBuilder(toks(i))
      var j = 1
      while (j < nGram) { sb += ' '; sb ++= toks(i + j); j += 1 }
      md.reset()
      val d = md.digest(sb.toString.getBytes("UTF-8"))
      var hv = 0L
      var b = 0
      while (b < 7) { hv = (hv << 8) | (d(b) & 0xffL); b += 1 }
      hv = (hv << 4) | ((d(7) & 0xf0L) >> 4) // first 15 hex chars = 60 bits
      val hp = hv % MinhashP
      var q = 0
      while (q < k) {
        val v = (minhashA(q) * hp + minhashB(q)) % MinhashP
        if (v < mins(q)) mins(q) = v
        q += 1
      }
      i += 1
    }
    mins
  }

  def minhashCandidates(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      nGram: Int = 3,
      k: Int = 16,
      threshold: Double = 0.5
  ): DataFrame = {
    val sigUdf = udf((t: String) => minhashSigSerial(t, nGram, k))
    minhashCandidatesFromSigs(
      docs.select(col(idCol).as("id"), sigUdf(col(textCol)).as("sig")),
      k,
      threshold
    )
  }

  /** [[minhashCandidates]] over PRE-COMPUTED signatures `(id, sig)` —
    * the entry point for pipelines that already ran the signature
    * kernel in a fused corpus pass (q_curate): the candidate machinery
    * is identical, only the signature projection is skipped. Null
    * signatures (docs below nGram tokens) drop out exactly like the
    * in-line path. */
  def minhashCandidatesFromSigs(
      sigs: DataFrame,
      k: Int = 16,
      threshold: Double = 0.5
  ): DataFrame = {
    val sig = sigs
      .filter(col("sig").isNotNull)
      .select(col("id") +: (0 until k).map(i => col("sig").getItem(i).as(s"s$i")): _*)
    // melt to (id, position, value) — the inverted index feeds both
    // sides of the self-join; persist so the shingle+hash pipeline runs
    // once (at 100 TB: materialize to a table)
    val inv = sig
      .select(col("id"), posexplode(array((0 until k).map(i => col(s"s$i")): _*)).as(Seq("i", "v")))
      .transform(graft.operators.Staged.persist(_)) // staged: released by Staged.releaseAll
    inv
      .select(col("i"), col("v"), col("id").as("id_a"))
      .join(inv.select(col("i"), col("v"), col("id").as("id_b")), Seq("i", "v"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("matched"))
      .withColumn("est_jaccard", col("matched").cast("double") / lit(k.toDouble))
      .filter(col("est_jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("est_jaccard"), 4).as("est_jaccard"))
  }

  /** MinHash near-dup summary over the documents table. */
  def minhashQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    minhashCandidates(Tables.documents(s, dir), "doc_id", "text")
      .orderBy($"id_a", $"id_b")
  }

  /** SimHash 60-bit signature of a token multiset (deterministic UDF:
    * per-row, no shuffle; the bit-vote loop doesn't decompose into
    * codegen-able columns cleanly). 60 bits = the md5-derived
    * engine-neutral hash width (15 hex chars), so the SQL oracle can
    * rebuild the identical signature with 60 bit-vote expressions. */
  val simhashUdf = udf { text: String =>
    if (text == null) 0L
    else {
      val toks = text.toLowerCase(java.util.Locale.ROOT).split("\\W+").filter(_.nonEmpty)
      val votes = new Array[Int](60)
      toks.foreach { t =>
        val h = TextOps.md5Hash60(t)
        var i = 0
        while (i < 60) { if (((h >>> i) & 1L) == 1L) votes(i) += 1 else votes(i) -= 1; i += 1 }
      }
      votes.zipWithIndex.foldLeft(0L) { case (acc, (v, i)) => if (v > 0) acc | (1L << i) else acc }
    }
  }

  /** Hamming-block candidate generation over 60-bit signatures
    * (`sig(id, sig)`): block on 15-bit signature quarters — two
    * signatures within Hamming distance 3 share at least one of 4
    * blocks (pigeonhole), so the blocked self-join is candidate-
    * COMPLETE for maxHamming ≤ 3. Verification = exact popcount on the
    * pair. Shared by [[simhashCandidates]] (text) and
    * [[graft.multimodal.Multimodal.phashCandidates]] (images) — the
    * signature changes, the scale shape doesn't. */
  def hammingCandidates(sig: DataFrame, maxHamming: Int = 3): DataFrame = {
    val blocked = sig.select(
      col("id"),
      col("sig"),
      posexplode(array((0 until 4).map(b => shiftrightunsigned(col("sig"), b * 15).bitwiseAND(lit(0x7fffL))): _*))
        .as(Seq("block", "key"))
    )
    val l = blocked.select(col("block"), col("key"), col("id").as("id_a"), col("sig").as("sig_a"))
    val r = blocked.select(col("block"), col("key"), col("id").as("id_b"), col("sig").as("sig_b"))
    l.join(r, Seq("block", "key"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** SimHash near-dup candidates over a text column. */
  def simhashCandidates(docs: DataFrame, idCol: String, textCol: String, maxHamming: Int = 3): DataFrame =
    hammingCandidates(docs.select(col(idCol).as("id"), simhashUdf(col(textCol)).as("sig")), maxHamming)

  /** ◆ EXACT embedding near-dup (L2 ≤ ε) with norm-bucket blocking:
    * ‖a−b‖ ≤ ε ⟹ |‖a‖−‖b‖| ≤ ε (reverse triangle inequality), so
    * joining each ε-wide norm bucket against its neighbours is a
    * provably COMPLETE candidate generator — an exact near-dup pass
    * with no N² compare, unlike LSH which trades recall. Distances are
    * assembled from precomputed squared norms + one codegen'd dot per
    * candidate pair (d² = ‖a‖² + ‖b‖² − 2a·b), never a per-pair array
    * zip. */
  def embedNearDupExact(s: SparkSession, dir: String, eps: Double = 1.05): DataFrame = {
    import s.implicits._
    graft.plans.VectorExpressions.register(s)
    val vd = graft.plans.VectorExpressions.vecDot _
    val emb = Tables
      .embeddings(s, dir)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .withColumn("n2", vd($"v", $"v"))
      .withColumn("bucket", floor(sqrt($"n2") / eps).cast("long"))
      .transform(graft.operators.Staged.persist(_)) // staged: released by Staged.releaseAll
    val probes = emb.select(
      $"vec_id".as("id_a"),
      $"v".as("va"),
      $"n2".as("n2a"),
      explode(array($"bucket" - 1, $"bucket", $"bucket" + 1)).as("probe")
    )
    val target = emb.select($"vec_id".as("id_b"), $"v".as("vb"), $"n2".as("n2b"), $"bucket".as("probe"))
    probes
      .join(target, Seq("probe"))
      .filter($"id_a" < $"id_b")
      .withColumn("d2", $"n2a" + $"n2b" - lit(2.0) * vd($"va", $"vb"))
      .filter($"d2" <= lit(eps * eps))
      .select($"id_a", $"id_b", round(sqrt(greatest($"d2", lit(0.0))), 6).as("dist"))
  }

  def simhashQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    simhashCandidates(Tables.documentsWide(s, dir), "doc_id", "text").orderBy($"id_a", $"id_b")
  }

  /** ◆ n-gram Jaccard via the inverted index alone: postings self-join
    * inside each shingle bucket → groupBy(pair).count = |A∩B|, joined
    * with per-doc shingle counts for |A|+|B|. Shingle arrays never ride
    * a shuffle, and there is no N² compare — pair rows exist only where
    * docs actually share a shingle.
    *
    * Corpus stop-shingles (document frequency > maxDf) are removed from
    * the similarity universe before pairing — standard near-dup
    * practice at scale: they contribute O(df²) pair rows and no
    * discrimination. Jaccard is exact over the filtered universe. */
  def ngramJaccard(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.8,
      maxDf: Int = 64
  ): DataFrame = {
    // postings carry the 60-bit shingle hash, not the string: an 8-byte
    // join key instead of a ~25-byte n-gram through every shuffle (df
    // table, df filter, pair self-join). The oracle hashes identically,
    // so even a (astronomically rare) collision merges the same way in
    // both engines.
    //
    // Measured notes (full Bench harness at sf0.1):
    //  - r11 winner (1.98 s official): the one-pass Long-hash kernel
    //    below replacing the HOF shingle tree + per-row md5 exprs —
    //    an earlier STRING-array UDF attempt lost (boxing/UTF8String
    //    cost), the Long-array form wins because nothing re-boxes.
    //  - collect_list-per-shingle + in-memory pair expansion (no
    //    self-join): 3.2 s — object-hash aggregation of ~1M small
    //    lists loses to the codegen'd sort-merge self-join.
    //  - df-filter via keyed window on a shingle-repartitioned scan
    //    (one less shuffle on paper): 2.8 s — WindowExec's sort beats
    //    the partial-agg df table + join it replaces.
    //  - round-robin pre-repartition of the document scan: 2.6 s.
    // No salting is needed: the df cap bounds every join key at
    // maxDf² pairs, so there is no hot bucket to split.
    // Shingle-hash derivation is the minhashSigSerial one-pass kernel
    // (r11): tokens → sliding shingles → 60-bit md5 hash → per-doc
    // DISTINCT hash array, one projection, no HOF tree and no
    // per-shingle md5 expression rows. The exploded postings and
    // everything downstream are unchanged (hash-identical to the
    // oracle's SQL derivation).
    val hashesUdf = udf { text: String =>
      if (text == null) null else shingleHashesSerial(text, n)
    }
    val inv = docs
      .select(col(idCol).as("id"), explode(hashesUdf(col(textCol))).as("shingle"))
      .transform(graft.operators.Staged.persist(_)) // staged: released by Staged.releaseAll
    val dfTab = inv.groupBy("shingle").agg(count(lit(1)).as("df"))
    val filtered = inv
      .join(dfTab.filter(col("df").between(2, maxDf)).select("shingle"), Seq("shingle"))
      .transform(graft.operators.Staged.persist(_)) // staged: released by Staged.releaseAll
    val counts = filtered.groupBy("id").agg(count(lit(1)).as("cnt"))
    val inter = filtered
      .select(col("shingle"), col("id").as("id_a"))
      .join(filtered.select(col("shingle"), col("id").as("id_b")), Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("inter"))
    // counts is one row per doc — per-size AQE picks the join strategy
    // (broadcastable locally, shuffle-join at corpus scale)
    inter
      .join(counts.select(col("id").as("id_a"), col("cnt").as("cnt_a")), Seq("id_a"))
      .join(counts.select(col("id").as("id_b"), col("cnt").as("cnt_b")), Seq("id_b"))
      .withColumn("jaccard", col("inter").cast("double") / (col("cnt_a") + col("cnt_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  def ngramJaccardQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ngramJaccard(Tables.documents(s, dir), "doc_id", "text", n = 3, threshold = 0.6)
      .orderBy($"id_a", $"id_b")
  }
}
