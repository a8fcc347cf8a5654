package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One token-window chunk of a document. */
final case class Chunk(doc_id: Long, chunk_id: Int, n_tokens: Int, text: String)

/** One packed training sequence: consecutive chunks of a document greedily
  * filled up to a token budget. */
final case class Pack(doc_id: Long, pack_id: Int, n_chunks: Int, n_tokens: Int)

/** The slice of [[Chunk]] that packing actually reads — `text` is never
  * consulted, so it must not ride through the pack shuffle. */
private[pipeline] final case class ChunkMeta(doc_id: Long, chunk_id: Int, n_tokens: Int)

/** Training-data chunking and sequence packing — the step between a
  * cleaned corpus and an LLM data loader (beyond-reference; the build
  * brief's large-scale-training-pipeline family, alongside dedup/ANN).
  *
  * Chunking is MAP-ONLY: tokens, window starts, and slices are all in-row
  * array expressions (`split`/`sequence`/`slice`/`array_join`) + one
  * `posexplode` — no shuffle, no UDF, stays in whole-stage codegen. At
  * 100 TB the chunker adds zero data movement beyond the scan; row count
  * fans out by ~n_tokens/stride.
  *
  * Packing shuffles once on doc_id (the packing key), and ONLY the chunk
  * metadata `(doc_id, chunk_id, n_tokens)` enters that shuffle — packing
  * never reads `Chunk.text`, so the text is projected away before the
  * exchange and a giant document costs ~12 bytes per chunk in the task
  * heap, independent of its text size. Inside each group the chunks ARE
  * materialized and sorted (`flatMapGroups` guarantees no ordering), but
  * that buffer is the slim metadata, O(chunks) small structs, not O(text).
  * Greedy first-fit then runs in chunk order with one running counter.
  * A chunk larger than the budget gets a pack of its own (never dropped,
  * never silently truncated).
  */
object ChunkJobs {

  /** Token-window chunks of `size` tokens, consecutive chunks sharing
    * `overlap` tokens (stride = size - overlap). The trailing chunk may be
    * short; windows that add no new token are not emitted. Tokens are the
    * space-split of the whitespace-normalized text (same convention as
    * q_token_count's ws_tokens). */
  def chunk(documents: DataFrame, size: Int, overlap: Int): DataFrame = {
    require(size > 0 && overlap >= 0 && overlap < size,
      s"need 0 <= overlap < size, got size=$size overlap=$overlap")
    val stride = size - overlap
    // one-pass kernel form of trim(regexp_replace(.., "\\s+", " "))
    val nt = graft.plans.TextHashExprs
      .ws_normalize(coalesce(col("text"), lit("")), doTrim = true, doLower = false)
    val withToks = documents
      .select(col("doc_id").cast("long").as("doc_id"), nt.as("nt"))
      .filter(col("nt") =!= "")
      .select(col("doc_id"), split(col("nt"), " ").as("toks"))
      .withColumn("n", org.apache.spark.sql.functions.size(col("toks")))
      // chunk starts: 0, stride, 2*stride, ... while start < n and the
      // window adds new tokens: count = 1 + ceil(max(n - size, 0)/stride)
      .withColumn("n_chunks",
        when(col("n") <= size, lit(1))
          .otherwise(lit(1) + ceil((col("n") - size).cast("double") / stride).cast("int")))
    withToks
      .select(col("doc_id"), col("toks"), col("n"),
        posexplode(sequence(lit(0), col("n_chunks") - 1)).as(Seq("chunk_id", "w")))
      .select(
        col("doc_id"), col("chunk_id"),
        least(lit(size), col("n") - col("chunk_id") * stride).cast("int").as("n_tokens"),
        array_join(slice(col("toks"), col("chunk_id") * stride + 1, lit(size)), " ").as("text"))
  }

  /** Greedy first-fit packing of a document's chunks (in chunk order) into
    * sequences of at most `budget` tokens. */
  def pack(spark: SparkSession, chunks: Dataset[Chunk], budget: Int): Dataset[Pack] =
    packMeta(spark, chunks.toDF(), budget)

  /** Packing over bare chunk metadata `(doc_id, chunk_id, n_tokens)` — the
    * entry point when the caller has already projected the text away (e.g.
    * a checkpointed chunk-metadata table in the composed pipeline). */
  def packMeta(spark: SparkSession, chunks: DataFrame, budget: Int): Dataset[Pack] = {
    import spark.implicits._
    require(budget > 0, s"budget must be positive, got $budget")
    // Project the text away BEFORE the groupByKey: the exchange and the
    // per-group buffer carry 12-byte metadata rows only.
    val meta = chunks
      .select(col("doc_id"), col("chunk_id"), col("n_tokens")).as[ChunkMeta]
    meta.groupByKey(_.doc_id).flatMapGroups { (docId: Long, it: Iterator[ChunkMeta]) =>
      val sorted = it.toArray.sortBy(_.chunk_id)
      val out = Seq.newBuilder[Pack]
      var packId = 0
      var nChunks = 0
      var nTokens = 0
      def flush(): Unit = {
        if (nChunks > 0) {
          out += Pack(docId, packId, nChunks, nTokens)
          packId += 1; nChunks = 0; nTokens = 0
        }
      }
      sorted.foreach { c =>
        if (nChunks > 0 && nTokens + c.n_tokens > budget) flush()
        nChunks += 1
        nTokens += c.n_tokens
        // oversized chunk alone in its pack: emit immediately
        if (nTokens >= budget) flush()
      }
      flush()
      out.result().iterator
    }
  }
}
