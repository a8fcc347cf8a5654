package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** Scale-hardened near-duplicate detection: parameterized banded MinHash-LSH
  * with a true-Jaccard verification stage (the corpus-scale form of the
  * reference's first-file-wins dedupe intent, `merge_json_files.py:48-62`).
  *
  * The dedup family (this object, [[Decontaminate]], [[SubstrDedup]]) is
  * built from the entity-resolution stages of SparkER (EDBT 2019):
  *  - blocks: a plain `(key cols…, doc_id)` table — MinHash band rows
  *    `(bi, bh)` ([[bandRows]]), ngram rows `(lang, g)`, decontamination
  *    shingles `(shingle)`, substring windows `(h)`. Each is computed
  *    IN-ROW (one compiled pass per doc, e.g. the MinHash signature over
  *    the distinct-token array), so block building is map-only;
  *  - purge: [[purge]] drops every key held by more than `cap` rows
  *    BEFORE any join — within-block pair count is quadratic, so one
  *    degenerate block (e.g. boilerplate-only docs) would otherwise emit
  *    billions of pairs. The one size aggregate behind it, [[blockSizes]],
  *    also reports the drops ([[droppedBuckets]]) — never silent;
  *  - pairs: [[pairs]] self-joins a purged block table within each key,
  *    `doc_a < doc_b` — the only shuffle of candidate generation;
  *  - verify: [[jaccardVerify]] scores each candidate pair by exact
  *    Jaccard over the distinct token arrays, joined on by doc id;
  *  - components: [[connectedComponents]] turns verified pairs into
  *    one canonical doc per near-dup cluster.
  */
object DedupJobs {

  /** Word tokens, lowercased — the same tokenization as q_dedup_minhash.
    * One compiled pass ([[graft.plans.TextHashExprs.asciiTokens]]),
    * bit-identical to `regexp_extract_all(lower(text), "[a-z0-9]+", 0)`
    * (TextHashSpec differential incl. the İ/ſ case-fold traps); callers
    * must have TextHashExprs registered — every dedup entry point does. */
  def tokens(textCol: Column): Column =
    graft.plans.TextHashExprs.ascii_tokens(textCol)

  /** Frees every intermediate the engine has materialised since the last
    * release ([[Materialize.release]]). A DataFrame built on a freed cut can
    * no longer be read: consume every result first, and build a fresh one
    * after the release. */
  def releaseCached(blocking: Boolean = false): Unit = Materialize.release(blocking)

  /** One row per doc with tokens: (doc_id, toks) where `toks` is the
    * doc's DISTINCT word tokens ([[tokens]] + `array_distinct`, one
    * compiled pass plus one hash pass). Zero-token docs are excluded (they
    * have no signature and can't be in a candidate pair). The single
    * tokenization both the signature stage and the verify join read. */
  private def tokenSets(docs: DataFrame): DataFrame = {
    graft.plans.TextHashExprs.register(docs.sparkSession)
    // the tokenize + signature projection is the compute-heavy stage:
    // don't let a single-split source serialize it (no-op at real scale)
    ScanParallelism.ensure(docs)
      .select(col("doc_id"), array_distinct(tokens(col("text"))).as("toks"))
      .filter(size(col("toks")) > 0)
  }

  /** Band rows over a [[tokenSets]] table: the signature (min over tokens
    * of a seeded md5, per hash function) is ONE compiled in-row pass over
    * the token array ([[graft.plans.TextHashExprs.minhashSig]]); band hash = md5 of
    * the band's concatenated row hashes. */
  private def signatureBands(toks: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, s"numHashes=$numHashes not divisible by bands=$bands")
    val rowsPerBand = numHashes / bands
    val withSig = toks.withColumn("sig",
      graft.plans.TextHashExprs.minhash_sig(col("toks"), lit(numHashes)))
    val bandHashes = (0 until bands).map { bi =>
      val hs = (bi * rowsPerBand until (bi + 1) * rowsPerBand)
        .map(k => element_at(col("sig"), k + 1))
      md5(concat(hs: _*))
    }
    withSig.select(col("doc_id"), posexplode(array(bandHashes: _*)).as(Seq("bi", "bh")))
  }

  /** One row per (doc, band): (doc_id, bi, bh). Zero-token docs are
    * excluded (they have no signature). */
  def bandRows(docs: DataFrame, numHashes: Int, bands: Int): DataFrame =
    signatureBands(tokenSets(docs), numHashes, bands)

  /** The MinHash block key: (band index, band hash). */
  private val Bucket = Seq("bi", "bh")

  /** `(key cols…, n)`: the rows each block of `blocks` holds — the one size
    * aggregate behind every frequency cap, the dropped-bucket report and
    * the index's `bucket_sizes`. */
  private def blockSizes(blocks: DataFrame, keys: Seq[String]): DataFrame =
    blocks.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))

  /** Block purging: the rows of `blocks` whose key holds at most `cap`
    * rows (a key held by exactly `cap` rows survives). */
  private[pipeline] def purge(blocks: DataFrame, keys: Seq[String], cap: Long): DataFrame =
    blocks.join(blockSizes(blocks, keys).filter(col("n") <= cap), keys, "left_semi")

  /** `(doc_a, doc_b)` with `doc_a < doc_b`, one row per key the two docs
    * share in `blocks`. */
  private def pairs(blocks: DataFrame, keys: Seq[String]): DataFrame = {
    def side(doc: String) = blocks.select(keys.map(col) :+ col("doc_id").as(doc): _*)
    side("doc_a").join(side("doc_b"), keys).filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
  }

  /** Buckets that exceed the cap — surfaced so truncation is never silent.
    * Returns (bi, bh, n) for every dropped bucket. */
  def droppedBuckets(docs: DataFrame, numHashes: Int, bands: Int,
                     bucketCap: Int): DataFrame =
    blockSizes(bandRows(docs, numHashes, bands), Bucket).filter(col("n") > bucketCap)

  /** Candidate pairs (doc_a < doc_b, distinct) from the banded self-join,
    * with over-cap buckets excluded.
    *
    * The band-row table (bands rows per doc — tiny next to the corpus) is
    * persisted: it feeds the bucket-size aggregate, the purge and both
    * sides of the self-join, and each DataFrame reuse would otherwise
    * re-run the full signature scan over the corpus (the md5 passes
    * dominate; measured 5-10 re-evaluations without the persist). At
    * cluster scale this is the table you'd write out / checkpoint.
    * Persisted intermediates are released via [[releaseCached]]. */
  def candidatePairs(docs: DataFrame, numHashes: Int, bands: Int,
                     bucketCap: Int): DataFrame =
    bandCandidates(bandRows(docs, numHashes, bands), bucketCap)

  private def bandCandidates(bandTable: DataFrame, bucketCap: Int): DataFrame =
    pairs(purge(Materialize.cache(bandTable), Bucket, bucketCap), Bucket).distinct()

  /** Candidates verified by exact Jaccard over distinct token sets:
    * returns (doc_a, doc_b, jaccard) with jaccard >= threshold, sorted. */
  def minhashVerified(docs: DataFrame, numHashes: Int = 8, bands: Int = 4,
                      bucketCap: Int = 200,
                      jaccardThreshold: Double = 0.5): DataFrame =
    minhashVerifiedPairs(docs, numHashes, bands, bucketCap, jaccardThreshold)
      .orderBy(col("doc_a"), col("doc_b"))

  /** [[minhashVerified]] WITHOUT the final global sort: the sort exists
    * only for deterministic oracle comparison — consumers that feed the
    * pairs into another operator (connected components, the training
    * pipeline) would otherwise pay a range-partitioning exchange + sort
    * whose order the next shuffle immediately destroys.
    *
    * ONE token table, two consumers: each doc's distinct-token array
    * ([[tokenSets]]) is persisted and read by the signature stage AND by
    * both sides of the verify join, so every doc is tokenized exactly once
    * and the verify needs no semi-join of the text against the candidate
    * doc ids. The persisted table is one array row per doc, no larger than
    * the text it was built from; released via [[releaseCached]].
    *
    * Verify stage is IN-ROW set intersection, not a token-explode join:
    * the token arrays join onto the pair table by doc id, and
    * `|A∩B| / (|A|+|B|-|A∩B|)` is computed per pair with
    * `array_intersect`/`size` — identical exact-Jaccard semantics. The
    * former explode shape shuffled one row per (pair, token) through two
    * joins and a groupBy (pairs × avg-token-count rows) plus two size
    * joins; this shape moves each candidate doc's token array once per
    * side and nothing else. */
  def minhashVerifiedPairs(docs: DataFrame, numHashes: Int = 8, bands: Int = 4,
                           bucketCap: Int = 200,
                           jaccardThreshold: Double = 0.5): DataFrame = {
    // Join-strategy experiment (round 6, MEASURED AND REVERTED, on the
    // former candidate-doc semi-join that pruned the text before the second
    // tokenization): hinting that id-set semi-join to broadcast removed the
    // corpus-text exchange+sort (2 SortMergeJoin -> 0), but (a) with the
    // lazy persist the broadcast-exchange thread raced the main DAG's first
    // materialization of the same candidate lineage and duplicated the
    // whole signature stage nondeterministically (measured 6 -> 16-28 s
    // outlier reps on the neardup pipeline), and (b) fixing the race with
    // an eager localCheckpoint serialized the candidate build before the
    // corpus tokenize stage, losing the overlap the SMJ shape got for free
    // (verified 1.9 -> 2.9 s, components 1.5 -> 2.1 s). The incremental
    // probe (dedupAgainstIndex) KEEPS broadcast+eager — there the candidate
    // lineage is index-read-bounded and cheap, so the serialization costs
    // nothing and the prune win is real (2.0 -> 1.6 s, outlier-free).
    val toks = Materialize.cache(tokenSets(docs))
    val cand = bandCandidates(signatureBands(toks, numHashes, bands), bucketCap)
    jaccardVerify(cand, toks, toks, jaccardThreshold)
  }

  /** The verify step of both MinHash pipelines: join each candidate pair
    * `(doc_a, doc_b)` to its two distinct-token arrays (`tokA`/`tokB`:
    * `doc_id`, `toks`), intersect them in-row and keep the pairs whose
    * Jaccard similarity reaches `threshold`. */
  private def jaccardVerify(cand: DataFrame, tokA: DataFrame, tokB: DataFrame,
                            threshold: Double): DataFrame =
    cand
      .join(tokA.select(col("doc_id").as("doc_a"), col("toks").as("toks_a")),
        Seq("doc_a"))
      .join(tokB.select(col("doc_id").as("doc_b"), col("toks").as("toks_b")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("toks_a"), col("toks_b"))).as("inter"),
        size(col("toks_a")).as("na"), size(col("toks_b")).as("nb"))
      .withColumn("jaccard", jaccard)
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))

  /** `inter / (na + nb - inter)`: set Jaccard from the intersection size
    * and the two set sizes. */
  private val jaccard: Column =
    col("inter").cast("double") / (col("na") + col("nb") - col("inter"))

  /** Connected components over a near-duplicate pair table — the step that
    * turns PAIRS into dedup decisions: every doc gets its cluster id (the
    * smallest doc_id reachable through pair edges) and the cluster's
    * canonical representative (the min id) is marked, so "keep one doc per
    * near-dup cluster" is a filter on `is_canonical`.
    *
    * Algorithm: distributed min-label propagation with POINTER JUMPING.
    * Each round does (a) a neighbor-min step — comp(v) := min(comp(v),
    * min over neighbors comp(u)) — and (b) a path-halving step —
    * comp(v) := comp(comp(v)) — so label chains shrink geometrically and
    * convergence is O(log diameter) rounds, not O(diameter) (near-dup
    * clusters are near-cliques, so 2-4 rounds in practice; the jumping step
    * is what keeps adversarial chain-shaped graphs from needing a round per
    * hop — the same idea as the large-star/small-star MapReduce CC
    * algorithm). Each round is two equi-joins on ids: no all-pairs, state
    * is one (id, comp) row per distinct doc in the pair table, and the
    * per-round result is cut ([[Materialize.cut]]) so lineage never stacks
    * across rounds. Monotone (comp only decreases, bounded by the component
    * min), so the fixpoint is exact, not approximate.
    *
    * Throws if `maxIter` rounds don't converge — truncation is never
    * silent. Returns (doc_id, component, cluster_size, is_canonical)
    * for every doc that appears in at least one pair.
    *
    * SIZE DISPATCH (`driverEdgeLimit`): the pair graph is the OUTPUT of
    * near-dup verification — orders of magnitude smaller than the corpus
    * (it holds only docs with a >=threshold match, not the corpus) — so
    * most real graphs fit the driver comfortably. When the symmetrized
    * edge count is within the limit, components are solved in one
    * driver-local union-find pass (exact same labels: component = min
    * member) instead of 4-6 barrier jobs of loop latency; above it, the
    * distributed loop runs unchanged. The default limit (500k directed
    * edges, <= ~50 MB of collected rows) matches the bounded-driver-work
    * budget of the IVF trainer; pass 0 to force the distributed path. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25,
                          driverEdgeLimit: Long = 500000L): DataFrame = {
    // Each round is cut ([[Materialize]]): the stepped/jumped plan reads
    // the previous round's plan several times, so an uncut logical tree
    // doubles every round and Catalyst's re-analysis goes exponential long
    // before execution is the problem (persist does NOT shorten it).
    // Symmetrize in ONE pass over `pairs` (in-row explode of both edge
    // directions): the union-of-two-selects form referenced the incoming
    // plan twice, and when the pairs arrive as an unmaterialized pipeline
    // (q_dedup_components feeds minhashVerified straight in) Spark executes
    // the whole verify-join lineage once per reference. No `distinct`:
    // min-aggregation is idempotent to duplicate edges, so deduping them is
    // a pure extra shuffle at any scale. The cut's observed row count
    // decides the path (see the SIZE DISPATCH note above).
    val (sym, nEdges) = Materialize.counted(pairs
      .select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst")))
    if (driverEdgeLimit > 0 && nEdges <= driverEdgeLimit)
      return componentsDriverLocal(pairs.sparkSession, sym)
    // The FIRST neighbor-min round folds into label initialization:
    // comp0(v) = min(v, min N(v)) costs the same single shuffle that the
    // identity labeling needed anyway (distinct over src) — so near-clique
    // graphs (the near-dup common case) arrive at the loop already
    // converged and the first window is pure verification.
    val init = Materialize.cut(sym.groupBy(col("src"))
      .agg(least(min(col("dst")), col("src")).as("comp"))
      .select(col("src").as("id"), col("comp")))
    // Self-loop edges fold a node's OWN label into the same neighbor-min
    // aggregate — comp(v) := min over (N(v) ∪ {v}) of comp — removing the
    // per-round left-join back onto the labels. NOT checkpointed: both
    // union inputs already are, so materializing the union would only add
    // a job to re-store rows the block manager already holds.
    val symSelf = sym
      .union(init.select(col("id").as("src"), col("id").as("dst")))
    // One neighbor-min round on a (id, old, comp) table — `old` (the label
    // at the start of the current checkpoint window) rides along in the
    // aggregate via the self-loop row (each src group has exactly one), so
    // convergence is observed on the window's own cut with no extra join
    // back onto previous labels. With `jump`, the round also path-halves
    // (comp(v) := comp(comp(v))): the stepped table feeds both sides of the
    // jump self-join, so it is persisted (tiny — one row per labeled id,
    // held until release) to keep the join+agg at one execution, not one
    // per reference.
    def step(lbl: DataFrame, jump: Boolean): DataFrame = {
      val stepped = symSelf
        .join(lbl.select(col("id").as("dst"), col("comp").as("ncomp"), col("old")), Seq("dst"))
        .groupBy(col("src")).agg(
          min(col("ncomp")).as("comp"),
          max(when(col("dst") === col("src"), col("old"))).as("old"))
        .select(col("src").as("id"), col("old"), col("comp"))
      if (!jump) stepped
      else {
        val p = Materialize.cache(stepped)
        val hop = p.select(col("id").as("jid"), col("comp").as("jcomp"))
        p.join(hop, p("comp") === hop("jid"), "left")
          .select(p("id"), p("old"), coalesce(col("jcomp"), p("comp")).as("comp"))
      }
    }
    var labels = init
    var changed = 1L
    var iter = 0
    // The FIRST window is one neighbor-min round with NO jump: the folded
    // init already did a neighbor-min, so on clique-shaped graphs (the
    // near-dup norm) labels are final before the loop and window 1 is the
    // minimal possible verification — one equi-join round whose jump would
    // be the identity anyway. Later windows run TWO jump-rounds per cut
    // (round-4 verdict #3): at steady state the per-round cost is
    // barrier/stage latency over tiny id-keyed tables, not compute, so
    // halving the cut frequency halves the loop's job count, and the
    // path-halving keeps adversarial chains at O(log diameter) windows.
    // Labels are monotone decreasing, so comp < old detects a change in
    // EITHER half-round. A window's cut frees the previous window's.
    while (changed > 0 && iter < maxIter) {
      val withOld = labels.select(col("id"), col("comp").as("old"), col("comp"))
      val window =
        if (labels eq init) step(withOld, jump = false)
        else {
          val once = step(withOld, jump = true)
          if (iter + 1 < maxIter) { iter += 1; step(once, jump = true) }
          else once
        }
      val (jumped, moved) = Materialize.counted(window, count(when(col("comp") < col("old"), 1)))
      if (labels ne init) Materialize.free(labels)
      labels = jumped
      changed = moved
      iter += 1
    }
    require(changed == 0,
      s"connectedComponents did not converge in $maxIter rounds ($changed labels still moving)")
    // cluster size + canonical flag in ONE shuffle (a count window over the
    // component key) instead of a groupBy + join back.
    val byComp = org.apache.spark.sql.expressions.Window.partitionBy(col("comp"))
    labels.select(col("id").as("doc_id"), col("comp").as("component"),
        count(lit(1)).over(byComp).as("cluster_size"),
        when(col("id") === col("comp"), 1).otherwise(0).cast("int").as("is_canonical"))
      .orderBy(col("doc_id"))
  }

  /** Driver-local exact components over a collected symmetrized edge table:
    * path-compressing union-find, component named by its MIN member under
    * the id column's natural ordering (Long/Int/String are all Comparable,
    * and for the ASCII doc ids used here Java String order == Spark's UTF8
    * binary order), then sizes + canonical flags computed locally — the
    * result DataFrame is created in one shot with the SAME schema the
    * distributed loop emits, so callers and oracles can't tell the paths
    * apart. Zero Spark jobs beyond the collect. */
  private def componentsDriverLocal(spark: SparkSession, sym: DataFrame): DataFrame = {
    val idType = sym.schema("src").dataType
    val parent = new java.util.HashMap[Any, Any]()
    def find(x: Any): Any = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x // path compression: repoint the walked chain at the root
      while (parent.get(c) != c) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    sym.collect().foreach { row =>
      val a = row.get(0); val b = row.get(1)
      if (!parent.containsKey(a)) parent.put(a, a)
      if (!parent.containsKey(b)) parent.put(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent.put(ra, rb)
    }
    def lt(x: Any, y: Any): Boolean =
      x.asInstanceOf[Comparable[Any]].compareTo(y) < 0
    val members = new java.util.HashMap[Any, java.util.ArrayList[Any]]()
    parent.keySet().forEach { id =>
      members.computeIfAbsent(find(id), _ => new java.util.ArrayList[Any]()).add(id)
    }
    val rows = scala.collection.mutable.ArrayBuffer[Row]()
    members.values().forEach { ms =>
      var minId: Any = ms.get(0)
      ms.forEach(id => if (lt(id, minId)) minId = id)
      val size = ms.size().toLong
      ms.forEach(id =>
        rows += Row(id, minId, size, if (id == minId) 1 else 0))
    }
    // nullability mirrors the distributed loop's output exactly: doc_id
    // inherits the symmetrized src column (non-null group key), component
    // stays nullable (it flows out of a join+coalesce there)
    val schema = StructType(Seq(
      StructField("doc_id", idType, nullable = sym.schema("src").nullable),
      StructField("component", idType),
      StructField("cluster_size", LongType, nullable = false),
      StructField("is_canonical", IntegerType, nullable = false)))
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toSeq, 1), schema)
      .orderBy(col("doc_id"))
  }

  /** n-gram Jaccard with a DOCUMENT-FREQUENCY cap on the join key: shingles
    * occurring in more than `dfCap` documents are dropped from both the
    * join and the per-doc set sizes (Jaccard is then over the capped sets,
    * a stated semantic of this operator — near-universal shingles carry no
    * dedup signal but form quadratic-blowup buckets in the equi-join; the
    * uncapped q_dedup_ngram only survives behind a demo-scale filter).
    * The per-doc distinct shingle set is built in-row
    * (transform + array_distinct) so only distinct (doc, shingle) rows are
    * ever exploded into the shuffle. */
  def ngramJaccardCapped(docs: DataFrame, n: Int = 3, dfCap: Int = 50,
                         threshold: Double = 0.6): DataFrame = {
    graft.plans.TextHashExprs.register(docs.sparkSession)
    // normalization via the one-pass ws_normalize kernel (==
    // lower(regexp_replace(text, "\\s+", " ")) bit-for-bit)
    val nt = graft.plans.TextHashExprs
      .ws_normalize(col("text"), doTrim = false, doLower = true)
    // One-pass compiled n-gram kernel: the composed
    // `transform(sequence(...), i -> substr(nt, i, n))` form is O(len²) —
    // every builtin substr re-scans the UTF8String's variable-width bytes
    // from position 0 (the exact defect class char_ngrams was built for;
    // see TextHashExprs.charNgrams). Branch order preserves the composed
    // form's edge semantics exactly: len < n → [nt] itself (the old
    // sequence(1, greatest(len-(n-1), 1)) yielded the single short window),
    // null nt → null (char_ngrams null-propagates in the otherwise branch,
    // where a null condition also lands).
    val shingles = when(length(col("nt")) < n, array(col("nt")))
      .otherwise(array_distinct(
        graft.plans.TextHashExprs.char_ngrams(col("nt"), lit(n))))
    // tri feeds the document-frequency purge; kept feeds the size
    // aggregate and both pair-join sides. Persist both (the distinct-shingle
    // rows are corpus-vocabulary-bounded, far smaller than the text) so the
    // shingle explode over the corpus runs exactly once; released via
    // [[releaseCached]].
    val tri = Materialize.cache(ScanParallelism.ensure(docs)
      .withColumn("nt", nt)
      .select(col("doc_id"), col("lang"), explode(shingles).as("g")))
    val gram = Seq("lang", "g")
    val kept = Materialize.cache(purge(tri, gram, dfCap))
    val sizes = blockSizes(kept, Seq("doc_id"))
    pairs(kept, gram)
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
      .withColumn("jaccard", jaccard)
      .filter(col("jaccard") > threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // ------------------------------------------------------------------------
  // Incremental near-dup dedup against a PERSISTED signature index.
  //
  // At corpus scale dedup is not a one-shot batch: each crawl snapshot must
  // be checked against the accumulated corpus, and re-signaturing 100 TB per
  // snapshot is the cost being avoided (the same build-once/probe-many split
  // as AnnJobs.buildIndex/probeIndex). The index stores ONLY the banded
  // signature rows (`bands` rows per doc — tiny next to the text) plus the
  // per-bucket counts; a probe signatures the NEW snapshot only, equi-joins
  // it against the index, and verifies candidates with exact Jaccard,
  // fetching text for the candidate-bounded set of indexed docs from the
  // corpus table (the corpus store exists anyway; what the index saves is
  // the full-corpus signature scan and its shuffle, not the bounded verify
  // reads).

  /** Build once: persist the banded MinHash signature index for `docs`
    * under `indexPath`:
    *  - `bands/`        (bi, bh, doc_id) — the banded signature rows;
    *  - `bucket_sizes/` (bi, bh, n)      — per-bucket row counts, so a
    *    probe prices the skew cap without re-aggregating the band table;
    *  - `meta/`         (num_hashes, bands) — probes read the parameters
    *    from the index, so a mismatched re-signature is impossible.
    * (In a warehouse deployment `bands/` would be a table bucketed on
    * (bi, bh) so probe joins sort-merge without re-shuffling the index;
    * plain parquet can't persist bucketing, so the probe pays one shuffle
    * of the index side — still signature rows, never text.) */
  def buildMinhashIndex(docs: DataFrame, indexPath: String,
                        numHashes: Int = 8, bands: Int = 4): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    bandRows(docs, numHashes, bands)
      .write.mode("overwrite").parquet(s"$indexPath/bands")
    // aggregate the persisted rows (cheaper than re-running the signature
    // scan that produced them)
    blockSizes(spark.read.parquet(s"$indexPath/bands"), Bucket)
      .write.mode("overwrite").parquet(s"$indexPath/bucket_sizes")
    Seq((numHashes, bands)).toDF("num_hashes", "bands")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexPath/meta")
  }

  /** Probe: verified near-dup pairs between a NEW snapshot and the indexed
    * corpus, without re-signaturing the corpus. Returns
    * (doc_a = indexed doc, doc_b = new doc, jaccard >= threshold).
    *
    * Semantics match the batch [[minhashVerifiedPairs]] over
    * (corpus ∪ newDocs) restricted to cross pairs — in particular the
    * bucket cap applies to the COMBINED bucket size (index count + new
    * count), so growing a hot bucket past the cap disables it exactly as
    * a full re-run would (test-enforced by the differential in
    * IncrementalDedupSpec). `corpus` supplies text only for the
    * candidate-bounded verify stage; its doc_ids must be the ones the
    * index was built from. */
  def dedupAgainstIndex(spark: SparkSession, indexPath: String,
                        newDocs: DataFrame, corpus: DataFrame,
                        bucketCap: Int = 200,
                        jaccardThreshold: Double = 0.5): DataFrame = {
    val meta = spark.read.parquet(s"$indexPath/meta").head()
    val numHashes = meta.getAs[Int]("num_hashes")
    val bands = meta.getAs[Int]("bands")
    val idxBands = spark.read.parquet(s"$indexPath/bands")
    val idxSizes = spark.read.parquet(s"$indexPath/bucket_sizes")
      .withColumnRenamed("n", "n_idx")

    // Signature the new snapshot only; the band table is consumed by the
    // size aggregate and the candidate join (persist, release via
    // releaseCached — same policy as the batch path).
    val newBand = Materialize.cache(bandRows(newDocs, numHashes, bands))
    // Only buckets the new side touches can form a cross pair; cap on the
    // combined size so semantics equal the batch run over the union.
    val keptBuckets = blockSizes(newBand, Bucket)
      .join(idxSizes, Bucket, "left")
      .filter(coalesce(col("n_idx"), lit(0L)) + col("n") <= bucketCap)
    // Eager cut for the same broadcast-vs-lazy-persist race as the batch
    // verify (see minhashVerifiedPairs): the two broadcast id-set prunes
    // below execute this lineage from the broadcast thread pool at action
    // start.
    val cand =
      idxBands.select(col("bi"), col("bh"), col("doc_id").as("doc_a"))
        .join(newBand.join(keptBuckets, Bucket, "left_semi")
          .select(col("bi"), col("bh"), col("doc_id").as("doc_b")),
          Bucket)
        .select(col("doc_a"), col("doc_b")).distinct().transform(Materialize.cut)

    // Exact-Jaccard verify, candidate-bounded on BOTH sides: indexed docs'
    // tokens come from the corpus table, new docs' tokens from the
    // snapshot — only docs in a candidate pair are ever tokenized here,
    // ONE distinct-token array per doc, and the intersection is computed
    // IN-ROW per pair by [[jaccardVerify]], shared with the batch
    // [[minhashVerifiedPairs]] (the former token-explode joins shuffled
    // pairs × tokens rows through two joins + a groupBy).
    // Broadcast the pair-bounded id sets so the text-bearing corpus and
    // snapshot scans are pruned MAP-SIDE (same rationale as the batch
    // verify: un-hinted, these semi-joins sort-merge and shuffle the full
    // text column against a tiny key set).
    val tokA = corpus
      .join(broadcast(cand.select(col("doc_a").as("doc_id")).distinct()),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id"), array_distinct(tokens(col("text"))).as("toks"))
    val tokB = newDocs
      .join(broadcast(cand.select(col("doc_b").as("doc_id")).distinct()),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id"), array_distinct(tokens(col("text"))).as("toks"))
    jaccardVerify(cand, tokA, tokB, jaccardThreshold)
  }
}
