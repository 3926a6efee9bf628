package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._

/** Near-duplicate detection suite for training-data pipelines (builder
  * mandate: exact, MinHash+LSH, SimHash, n-gram Jaccard — each over the
  * `documents` table).
  *
  * Scale design notes:
  *  - MinHash/SimHash signatures are pure array-expression columns (no UDFs
  *    on the MinHash path) — whole-stage-codegen'd, linear scans;
  *  - candidate generation is band-bucket equi-join (shuffle on band hash,
  *    never an all-pairs cross join): O(candidates), not O(n²);
  *  - every bucket join is HOT-BUCKET CAPPED: a band hash (or simhash chunk)
  *    shared by B docs yields B²/2 candidate rows, and real web corpora
  *    guarantee boilerplate clusters — buckets larger than `maxBucket` are
  *    dropped before the join (web-dedup standard: such buckets are
  *    boilerplate/spam clusters, handled by exact dedup instead). All bucket
  *    joins therefore have bounded per-key fan-out;
  *  - exact Jaccard verification runs ONLY on candidates, exactly once;
  *  - the n-gram Jaccard join is NOT probabilistic: it is an AllPairs-style
  *    prefix-filtered set-similarity join (Bayardo/Ma/Srikant, WWW'07;
  *    Chaudhuri et al. ICDE'06) — lossless for Jaccard ≥ t, so it has an
  *    exact SQL oracle;
  *  - survivor selection is a groupBy-min, not connected components — each
  *    duplicate doc points at its smallest verified partner (`dup_of`),
  *    which is the standard single-pass web-dedup approximation.
  */
object NearDup {

  /** Word w-shingles as 64-bit hashes (codegen'd; `xxhash64` of the joined
    * shingle text). Empty/short docs yield a single sentinel shingle.
    * Takes the column NAME (the shingling runs as a SQL expression). */
  def shingles(textCol: String, w: Int = 3): Column = {
    val toks = s"split(lower($textCol), ' ')"
    when(expr(s"size($toks)") >= w,
      array_distinct(expr(
        s"transform(sequence(1, size($toks) - ${w - 1}), " +
          s"i -> xxhash64(concat_ws(' ', slice($toks, i, $w))))")))
      .otherwise(array(xxhash64(lower(col(textCol)))))
  }

  /** MinHash signature of k permutations: h_i(s) = xxhash64(s, i); the
    * signature element i is min over shingles — all array expressions. */
  def minHashSignature(shinglesCol: Column, k: Int = 32): Column =
    expr(s"transform(sequence(1, $k), i -> array_min(transform(_shingles, s -> xxhash64(s, i))))")

  /** (doc_id, band_idx, band_hash) candidate keys: signature split into
    * `bands` bands of `k/bands` rows, each band hashed. */
  private def bandHashes(sig: Column, k: Int, bands: Int): Column = {
    val r = k / bands
    expr(s"transform(sequence(0, ${bands - 1}), j -> xxhash64(slice(_sig, j * $r + 1, $r)))")
  }

  /** Generic capped bucket-join: given (id, bucket-key cols), emit distinct
    * (id_a < id_b) pairs sharing a bucket, skipping buckets larger than
    * `maxBucket` (quadratic-blowup guard). One aggregation computes bucket
    * sizes; the join and the size-filter ride the SAME hash partitioning on
    * the bucket key, so Catalyst reuses the exchange — the exploded table is
    * shuffled once. */
  /** `carry`: extra per-doc columns (functionally determined by the id, and
    * cheap — e.g. a 64-bit signature) propagated to the output as
    * `<name>_a` / `<name>_b`, so callers can verify candidates WITHOUT
    * re-joining (and thus re-computing) the signature table. */
  private[operators] def cappedBucketPairs(
      exploded: DataFrame, idCol: String, bucketCols: Seq[String],
      maxBucket: Int, carry: Seq[String] = Nil): DataFrame = {
    // bucket sizes via a WINDOW over the same (bucketCols) shuffle the
    // self-join needs — NOT a separate groupBy+join: a groupBy branch plans
    // its partial aggregate below its exchange, so it cannot share the
    // exchange with the join sides and the (often expensive) subplan that
    // produced `exploded` executes twice. The window form keeps ONE
    // upstream execution; the self-join's two sides then reuse the
    // identical exchange (ReusedExchange).
    val w = org.apache.spark.sql.expressions.Window.partitionBy(bucketCols.map(col): _*)
    val inBucket = exploded.withColumn("_bsize", count(lit(1)).over(w))
      .filter(col("_bsize") >= 2 && col("_bsize") <= maxBucket)
    inBucket.as("l").join(inBucket.as("r"),
        bucketCols.map(c => col(s"l.$c") === col(s"r.$c")).reduce(_ && _) &&
          col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("id_a") +: col(s"r.$idCol").as("id_b") +:
        carry.flatMap(c => Seq(col(s"l.$c").as(s"${c}_a"), col(s"r.$c").as(s"${c}_b"))): _*)
      .distinct()
  }

  /** LSH candidate pairs only — banded signature bucket join, hot buckets
    * capped, NO verification (callers verify once, their way). */
  def minHashCandidates(docs: DataFrame, idCol: String, textCol: String,
      w: Int = 3, k: Int = 32, bands: Int = 8, maxBucket: Int = 256): DataFrame = {
    val base = docs
      .withColumn("_shingles", shingles(textCol, w))
      .withColumn("_sig", minHashSignature(col("_shingles"), k))
      .select(col(idCol).as("_id"), col("_sig"))
    val bandsDf = base
      .select(col("_id"), posexplode(bandHashes(col("_sig"), k, bands)).as(Seq("_band", "_bhash")))
    cappedBucketPairs(bandsDf, "_id", Seq("_band", "_bhash"), maxBucket)
  }

  /** MinHash+LSH near-dup pairs with exact-Jaccard verification (once,
    * candidates only).
    *
    * @return (id_a, id_b, jaccard) with id_a < id_b and jaccard ≥ threshold
    */
  def minHashPairs(docs: DataFrame, idCol: String, textCol: String,
      w: Int = 3, k: Int = 32, bands: Int = 8, threshold: Double = 0.5,
      maxBucket: Int = 256): DataFrame = {
    val cands = minHashCandidates(docs, idCol, textCol, w, k, bands, maxBucket)
    val sh = docs.withColumn("_shingles", shingles(textCol, w))
      .select(col(idCol).as("_id"), col("_shingles"))
    cands
      .join(sh.as("sa"), col("id_a") === col("sa._id"))
      .join(sh.as("sb"), col("id_b") === col("sb._id"))
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sa._shingles"), col("sb._shingles"))).cast("double") /
          size(array_union(col("sa._shingles"), col("sb._shingles"))).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Deduplicate: annotate each doc with `dup_of` = smallest verified
    * near-dup partner id (null ⇒ survivor). */
  def minHashDedup(docs: DataFrame, idCol: String, textCol: String,
      w: Int = 3, k: Int = 32, bands: Int = 8, threshold: Double = 0.5): DataFrame = {
    val pairs = minHashPairs(docs, idCol, textCol, w, k, bands, threshold)
    val dupOf = pairs.groupBy(col("id_b").as(idCol))
      .agg(min(col("id_a")).as("dup_of"))
    docs.join(dupOf, Seq(idCol), "left")
  }

  // ---------------- portable MinHash (oracle-able twin family) ----------------

  /** Word w-shingles as raw STRINGS (portable across engines). */
  def shingleStrings(textCol: String, w: Int = 3): Column = {
    val toks = s"split(lower($textCol), ' ')"
    when(expr(s"size($toks)") >= w,
      array_distinct(expr(
        s"transform(sequence(1, size($toks) - ${w - 1}), i -> concat_ws(' ', slice($toks, i, $w)))")))
      .otherwise(array(lower(col(textCol))))
  }

  /** Modular permutation constants (embedded in the SQL oracle too). */
  final val MinHashPrime = 2147483647L // 2^31 - 1
  def permA(i: Int): Long = 37L * i + 11
  def permB(i: Int): Long = 101L * i + 7

  /** MinHash over a PORTABLE hash family: base shingle hash = first 7 hex
    * chars of md5 (28 bits — (a·h + b) mod P never overflows 64-bit signed,
    * which matters because DuckDB errors on overflow where the JVM wraps),
    * permutation i = (aᵢ·h + bᵢ) mod (2³¹−1). Same banded-LSH structure as
    * the xxhash64 family, but every step has an exact ANSI-SQL twin (q22's
    * oracle). The xxhash64 family stays the production default (cheaper per
    * hash); both run the same candidate/verify code shape. All built-ins —
    * the pipeline stays whole-stage-codegen'd. */
  def minHashDedupPortable(docs: DataFrame, idCol: String, textCol: String,
      w: Int = 3, k: Int = 32, bands: Int = 8, threshold: Double = 0.5,
      maxBucket: Int = 256): DataFrame = {
    val r = k / bands
    val par = math.max(1, docs.sparkSession.sparkContext.defaultParallelism)
    val base = docs.repartition(par)
      .withColumn("_shingles", shingleStrings(textCol, w))
      .withColumn("_hb", expr(
        "transform(_shingles, s -> cast(conv(substring(md5(s), 1, 7), 16, 10) as bigint))"))
    val sigCols = (0 until k).map(i =>
      array_min(expr(s"transform(_hb, h -> (h * ${permA(i)} + ${permB(i)}) % $MinHashPrime)"))
        .as(s"_m$i"))
    val sig = base.select(col(idCol).as("_id") +: col("_shingles").as("_sh") +: sigCols: _*)
    val bandKey = (0 until bands).map(j =>
      concat_ws("|", (0 until r).map(x => col(s"_m${j * r + x}").cast("string")): _*))
    val bandsDf = sig.select(col("_id"),
      posexplode(array(bandKey: _*)).as(Seq("_band", "_bhash")))
    val cands = cappedBucketPairs(bandsDf, "_id", Seq("_band", "_bhash"), maxBucket)
    val sh = sig.select(col("_id"), col("_sh"), size(col("_sh")).as("_ns"))
    val pairs = cands
      .join(sh.as("sa"), col("id_a") === col("sa._id"))
      .join(sh.as("sb"), col("id_b") === col("sb._id"))
      .withColumn("_inter", size(array_intersect(col("sa._sh"), col("sb._sh"))))
      .select(col("id_a"), col("id_b"),
        (col("_inter").cast("double") /
          (col("sa._ns") + col("sb._ns") - col("_inter")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    val dupOf = pairs.groupBy(col("id_b").as(idCol)).agg(min(col("id_a")).as("dup_of"))
    docs.join(dupOf, Seq(idCol), "left")
  }

  // ---------------- SimHash ----------------

  final val SimHashBits = 60

  /** 60-bit SimHash signatures over whitespace tokens — pure built-ins, no
    * UDF: per-token hash = first 15 hex chars of md5 (60 bits, fits a
    * signed long, and md5 is identical across engines ⇒ q23 gets an EXACT
    * ANSI-SQL oracle); the 60 per-bit ±1 vote sums run in ONE aggregation
    * with map-side partials (the shuffle carries per-doc vote rows, not
    * tokens). Returns (_id, _sim). */
  def simHashSignatures(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val par = math.max(1, docs.sparkSession.sparkContext.defaultParallelism)
    // ONE pass over the token stream: explode → md5 → 60 vote sums, all
    // map-side-combined into per-doc rows before the (tiny) shuffle. A
    // dedupe-tokens-first variant (count per (doc, token), hash only the
    // distinct vocabulary, weight votes by count) was measured SLOWER: it
    // scans/explodes the token stream twice and shuffles the (doc, token)
    // pairs, which costs more than the md5 evaluations it saves.
    val toks = docs.repartition(par)
      .select(col(idCol).as("_id"), explode(split(lower(col(textCol)), " ")).as("_t"))
      .withColumn("_h", conv(substring(md5(col("_t")), 1, 15), 16, 10).cast("long"))
    val votes = (0 until SimHashBits).map(b =>
      sum(when(shiftright(col("_h"), b).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)).as(s"_v$b"))
    toks.groupBy(col("_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("_id"),
        (0 until SimHashBits)
          .map(b => when(col(s"_v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("_sim"))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxDist, candidates via
    * the pigeonhole principle: 4 15-bit chunks — any pair within distance 3
    * shares at least one chunk; the capped chunk equi-join is the only
    * quadratic-risk shuffle. */
  def simHashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3, maxBucket: Int = 1024): DataFrame = {
    require(maxDist <= 3, "4-chunk pigeonhole supports maxDist <= 3")
    val base = simHashSignatures(docs, idCol, textCol)
    // the 64-bit signature rides the exploded chunk rows (carry), so the
    // Hamming verification needs NO join back to the signature table —
    // without this the whole signature aggregation is computed twice (the
    // two consumers don't share an exchange)
    val chunks = base.select(col("_id"), col("_sim"),
      posexplode(expr("transform(sequence(0, 3), c -> (_sim >> (c * 15)) & 32767)"))
        .as(Seq("_chunk", "_cval")))
    cappedBucketPairs(chunks, "_id", Seq("_chunk", "_cval"), maxBucket, carry = Seq("_sim"))
      .select(col("id_a"), col("id_b"),
        expr("cast(bit_count(_sim_a ^ _sim_b) as int)").as("hamming"))
      .filter(col("hamming") <= maxDist)
  }

  // ---------------- n-gram Jaccard (exact set-similarity join) ----------------

  /** Distinct character n-grams as RAW STRINGS (array expression, codegen'd;
    * portable to ANSI SQL — the DuckDB oracle builds the same arrays). */
  def charNgramStrings(textCol: String, n: Int = 4): Column =
    when(length(col(textCol)) >= n,
      array_distinct(expr(
        s"transform(sequence(1, length($textCol) - ${n - 1}), i -> substring($textCol, i, $n))")))
      .otherwise(array(col(textCol)))

  /** Exact n-gram Jaccard pairs ≥ threshold. ADAPTIVE between two exact
    * strategies (identical output, chosen by measured gram selectivity):
    *
    *  - **prefix-filtered equi-join** (AllPairs, Bayardo et al. WWW'07 —
    *    public algorithm) when the gram vocabulary is large: rare-first
    *    canonical order, lossless prefix filter, bounded join fan-out — the
    *    web-corpus scale path (never an n² product);
    *  - **dictionary-bitmap verification** when the vocabulary is tiny
    *    (≤ `dictBits` distinct grams): a tiny vocabulary means every gram is
    *    hot and the prefix filter provably prunes nothing (measured on the
    *    bench corpus: 985 grams, 12.36M of 12.49M pairs survive it) — so
    *    skip the join, dictionary-encode each doc's gram set into a
    *    ⌈V/64⌉-word bitmap, and verify pairs with popcount(AND) under a
    *    broadcast nested-loop join with the Jaccard length filter
    *    |A| ≥ ⌈t·|B|⌉. Verification is 2·⌈V/64⌉ word ops instead of an
    *    O(|A|+|B|) string-hash intersect.
    *
    * Both are deterministic with one IEEE division per pair ⇒ exact DuckDB
    * oracle (q24). Output (id_a, id_b, ngram_jaccard), id_a < id_b.
    *
    * NOTE: with `forceStrategy = None` this method runs ONE eager Spark job
    * at DataFrame-construction time (the vocabulary probe that picks the
    * strategy — and doubles as the dictionary when the bitmap path wins);
    * the bitmap path runs a second tiny job (doc count) to size its blocks.
    * Pass `forceStrategy` to keep construction fully lazy. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 4, threshold: Double = 0.5, dictBits: Int = 4096,
      forceStrategy: Option[String] = None): DataFrame = {
    // small sources often arrive as one split; the gram projection is the
    // expensive part, so spread it before projecting (cheap row shuffle)
    val par = math.max(1, docs.sparkSession.sparkContext.defaultParallelism)
    val grams = docs.repartition(par)
      .select(col(idCol).as("_id"), charNgramStrings(textCol, n).as("_grams"))
      .withColumn("_len", size(col("_grams")))
    val exploded = grams.select(col("_id"), col("_len"), explode(col("_grams")).as("_gram"))
    // BOUNDED dictionary probe (shared by the auto route and the forced
    // bitmap route): at most dictBits+1 distinct grams ever reach the driver
    def dictProbe(ex: DataFrame): Array[String] =
      ex.select(col("_gram")).distinct()
        .limit(dictBits + 1).collect().map(_.getString(0))
    forceStrategy match {
      case Some("bitmap") =>
        // materialize the gram projection ONCE (the probe and the bitmap
        // encode would otherwise each re-run the n-gram explode), then fail
        // fast past the dictionary bound — the strategy is wrong for such a
        // corpus (the auto route would pick prefix) and an unbounded
        // driver-side vocabulary collect is an OOM at scale
        val gramsM = grams.localCheckpoint()
        val sample = dictProbe(
          gramsM.select(col("_id"), col("_len"), explode(col("_grams")).as("_gram")))
        if (sample.length > dictBits) {
          gramsM.unpersist(false) // fail-fast must not pin the projection
          throw new IllegalArgumentException(
            s"forceStrategy=bitmap on a corpus with > $dictBits distinct grams — " +
              "the driver-side dictionary would not fit; use the auto route or " +
              "forceStrategy=prefix")
        }
        bitmapJaccardPairs(gramsM, threshold, vocabOpt = Some(sample.sorted))
      case Some(_)        => prefixJaccardPairs(grams, exploded, threshold)
      case None =>
        // materialize the gram projection ONCE (localCheckpoint): the
        // n-gram explode is the expensive shared prefix, and the auto route
        // consumes it repeatedly — the strategy probe, then either the
        // bitmap encode or the prefix path's df/prefix/verify joins. One
        // projection pass instead of 3-5.
        val gramsM = grams.localCheckpoint()
        val explodedM = gramsM.select(col("_id"), col("_len"), explode(col("_grams")).as("_gram"))
        // the probe doubles as the dictionary collect: if the sample fits,
        // that IS the full vocabulary and the bitmap path reuses it
        val sample = dictProbe(explodedM)
        if (sample.length <= dictBits)
          bitmapJaccardPairs(gramsM, threshold, vocabOpt = Some(sample.sorted))
        else prefixJaccardPairs(gramsM, explodedM, threshold)
    }
  }

  /** Lossless prefix-filter path (large vocabularies). */
  private def prefixJaccardPairs(grams: DataFrame, exploded: DataFrame,
      threshold: Double): DataFrame = {
    // global document frequency per gram (map-side-combined agg)
    val df = exploded.groupBy(col("_gram")).agg(count(lit(1)).as("_df"))
    // canonical rank of each (doc, gram): position in ascending-(df, gram)
    // order within the doc — rank ≤ prefixLen ⇒ the gram is in the prefix
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_id")).orderBy(col("_df").asc, col("_gram").asc)
    // Jaccard(A,B) ≥ t ⇒ |A∩B| ≥ ⌈t·|A|⌉ ⇒ A matches B inside A's first
    // |A| − ⌈t·|A|⌉ + 1 canonical grams; +2 (not the textbook +1): one gram
    // of slack absorbs any 1-ulp IEEE crossover in ceil(len·t), keeping the
    // filter lossless at exact-threshold boundaries
    val prefixLen = least(col("_len"),
      (col("_len") - ceil(col("_len") * lit(threshold)) + lit(2)).cast("int"))
    val prefix = exploded.join(df, "_gram")
      .withColumn("_rank", row_number().over(w))
      .filter(col("_rank") <= prefixLen)
      .select(col("_id"), col("_gram"))
    // candidates: prefix(A) × all(B) on the gram (lossless, see above)
    val cands = prefix.as("p").join(exploded.as("e"),
        col("p._gram") === col("e._gram") && col("p._id") =!= col("e._id"))
      .select(least(col("p._id"), col("e._id")).as("id_a"),
        greatest(col("p._id"), col("e._id")).as("id_b"))
      .distinct()
    val sets = grams.select(col("_id"), col("_grams"), col("_len"))
    cands
      .join(sets.as("ga"), col("id_a") === col("ga._id"))
      .join(sets.as("gb"), col("id_b") === col("gb._id"))
      .withColumn("_inter", size(array_intersect(col("ga._grams"), col("gb._grams"))))
      .select(col("id_a"), col("id_b"),
        (col("_inter").cast("double") /
          (col("ga._len") + col("gb._len") - col("_inter")).cast("double")).as("ngram_jaccard"))
      .filter(col("ngram_jaccard") >= threshold)
  }

  /** Dense-dictionary path (tiny vocabularies, where prefix filtering is
    * provably useless): dictionary-encode each doc's gram set into a
    * \u2308V/64\u2309-word bitmap and verify pairs with a DISTRIBUTED block
    * nested loop \u2014 docs hash into B blocks of ~`blockSize`, every block
    * pair becomes one task-side tight loop (primitive arrays, Jaccard
    * length pre-filter, popcount(AND); ~2\u00b7V/64 word ops per surviving
    * pair). Nothing is ever collected to the driver (only the \u2264dictBits
    * vocabulary is broadcast), so corpus size is bounded by cluster memory,
    * not driver memory: per-group working set \u2248 2\u00b7blockSize\u00b7(V/8) bytes,
    * shuffle volume \u2248 n\u00b7B rows. The O(n\u00b2) pair-check WORK is inherent to
    * exact Jaccard under a tiny vocabulary (every gram is hot, so no
    * candidate pruning exists) \u2014 this path distributes it instead of
    * centralizing it.
    *
    * Requires distinct, orderable doc ids (numeric or string) \u2014 the output
    * orientation id_a < id_b must match the SQL oracle's `<`. */
  private def bitmapJaccardPairs(grams: DataFrame, threshold: Double,
      vocabOpt: Option[Array[String]], blockSize: Int = 8192): DataFrame = {
    val spark = grams.sparkSession
    import org.apache.spark.sql.types._
    val idType = grams.schema("_id").dataType
    val ord: Ordering[Any] = idType match {
      case LongType    => Ordering.by((x: Any) => x.asInstanceOf[Long])
      case IntegerType => Ordering.by((x: Any) => x.asInstanceOf[Int])
      case ShortType   => Ordering.by((x: Any) => x.asInstanceOf[Short])
      case StringType  => Ordering.by((x: Any) => x.asInstanceOf[String])
      case DoubleType  => Ordering.by((x: Any) => x.asInstanceOf[Double])
      case other => throw new IllegalArgumentException(
        s"bitmap strategy needs an orderable id (got $other); use forceStrategy=prefix")
    }
    val vocab = vocabOpt.getOrElse(
      grams.select(explode(col("_grams")).as("_gram"))
        .distinct().collect().map(_.getString(0)).sorted)
    val dictB = spark.sparkContext.broadcast(vocab.zipWithIndex.toMap)
    val words = (vocab.length + 63) / 64
    val encodeUdf = udf((gs: Seq[String]) => {
      val bmv = new Array[Long](words)
      val dict = dictB.value
      gs.foreach { g => val i = dict(g); bmv(i >> 6) |= (1L << (i & 63)) }
      bmv
    })
    // eagerly materialize the encoded bitmaps ONCE (localCheckpoint): the
    // encoding is consumed by four downstream plans (doc count, intra-block
    // groups, both cross-block sides) which would otherwise each re-run the
    // gram projection + dictionary encode
    val enc = grams.select(col("_id"), col("_len"), encodeUdf(col("_grams")).as("_bm"))
      .localCheckpoint()
    // block count: enough blocks that the B(B+1)/2 block-pair groups keep
    // every core busy, and small enough that two blocks fit a task comfortably.
    // SMALL-CORPUS SHORT-CIRCUIT: when the WHOLE corpus' bitmaps fit one
    // task's working set AND the O(n²) verify loop is one task's worth of
    // WORK (the bytes bound alone admits ~131k docs = ~8.6e9 pair checks —
    // hours serialized on one core), B=1 — one intra-block group, no B-fold
    // replication, no cross-block union. The work bound is sized so the
    // single task stays ~tens of ms (~50ns per pair check): past it the
    // B-fold replication of a few thousand tiny bitmap rows is noise next
    // to the serialized-straggler wall it removes (measured: 5k docs =
    // 12.5M checks = a 0.6s one-task stage while 31 cores idle).
    val nDocs = enc.count()
    val singleTaskBytes = 64L << 20
    val singleTaskDocs = 2048L // ≤ ~2e6 pair checks per task
    val par = math.max(1, spark.sparkContext.defaultParallelism)
    val minBlocksForPar = math.ceil((math.sqrt(8.0 * par + 1) - 1) / 2).toInt
    val b =
      if (nDocs <= singleTaskDocs && nDocs * words * 8L < singleTaskBytes) 1
      else math.max(1, math.max(minBlocksForPar, math.ceil(nDocs.toDouble / blockSize).toInt))
    val blocked = enc.withColumn("_blk", pmod(xxhash64(col("_id")), lit(b)).cast("int"))

    val outSchema = StructType(Seq(
      StructField("id_a", idType, nullable = false),
      StructField("id_b", idType, nullable = false),
      StructField("ngram_jaccard", DoubleType, nullable = false)))
    implicit val rowEnc: org.apache.spark.sql.Encoder[org.apache.spark.sql.Row] =
      org.apache.spark.sql.Encoders.row(outSchema)
    val t = threshold

    type Doc = (Any, Int, Array[Long])
    def docOf(r: org.apache.spark.sql.Row): Doc =
      (r.get(0), r.getInt(1), r.getSeq[Long](2).toArray)
    def verify(x: Doc, y: Doc): Iterator[org.apache.spark.sql.Row] = {
      val (xi, li, bi) = x
      val (yi, lj, bj) = y
      // Jaccard length filter with +0.5 IEEE slack (lossless; false
      // positives die in verification)
      if (li * t > lj + 0.5 || lj * t > li + 0.5) return Iterator.empty
      var inter = 0
      var w = 0
      while (w < bi.length) { inter += java.lang.Long.bitCount(bi(w) & bj(w)); w += 1 }
      val jac = inter.toDouble / (li + lj - inter).toDouble
      if (jac < t) Iterator.empty
      else if (ord.lt(xi, yi)) Iterator.single(org.apache.spark.sql.Row(xi, yi, jac))
      else Iterator.single(org.apache.spark.sql.Row(yi, xi, jac))
    }

    // intra-block pairs: group by block, loop i<j within
    import spark.implicits._
    val selfPairs = blocked
      .groupByKey(_.getAs[Int]("_blk"))(Encoders.scalaInt)
      .flatMapGroups { (_, rows) =>
        val ds = rows.map(docOf).toArray
        Iterator.range(0, ds.length).flatMap { i =>
          Iterator.range(i + 1, ds.length).flatMap(j => verify(ds(i), ds(j)))
        }
      }

    // cross-block pairs: each (bi < bj) block pair is one group; a doc joins
    // the groups where its block is either side (replication factor B)
    val pairIds = for (i <- 0 until b; j <- (i + 1) until b) yield (i * b + j, i, j)
    if (pairIds.isEmpty) return spark.createDataFrame(selfPairs.rdd, outSchema)
    val pairsDf = broadcast(pairIds.toDF("_pid", "_bi", "_bj"))
    val left = blocked.join(pairsDf, col("_blk") === col("_bi"))
      .select(col("_pid"), lit(0).as("_side"), col("_id"), col("_len"), col("_bm"))
    val right = blocked.join(pairsDf, col("_blk") === col("_bj"))
      .select(col("_pid"), lit(1).as("_side"), col("_id"), col("_len"), col("_bm"))
    val crossPairs = left.unionByName(right)
      .groupByKey(_.getAs[Int]("_pid"))(Encoders.scalaInt)
      .flatMapGroups { (_, rows) =>
        val ls = scala.collection.mutable.ArrayBuffer[Doc]()
        val rs = scala.collection.mutable.ArrayBuffer[Doc]()
        rows.foreach { r =>
          val d = (r.get(2), r.getInt(3), r.getSeq[Long](4).toArray)
          if (r.getInt(1) == 0) ls += d else rs += d
        }
        ls.iterator.flatMap(x => rs.iterator.flatMap(y => verify(x, y)))
      }
    spark.createDataFrame(selfPairs.unionByName(crossPairs).rdd, outSchema)
  }
}
