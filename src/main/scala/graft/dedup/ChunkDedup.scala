package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Chunk-level exact deduplication: remove repeated SPANS across a
  * corpus and reassemble the surviving text (north-star extension —
  * no counterpart in the reference, SURVEY.md §2.8).
  *
  * This is the "line-level dedup" of CCNet/RefinedWeb-style pipelines
  * — boilerplate paragraphs repeated across pages are removed even when
  * the containing documents are NOT near-duplicates. Documents here are
  * whitespace prose, so the span unit is a fixed-size token window; a
  * real corpus with newline structure would pass lines/paragraphs as
  * chunks the same way.
  *
  * Scale shape (100 TB-safe):
  *  - one narrow pass tokenizes and chunks (native kernels inside
  *    whole-stage codegen, [[graft.functions.TextKernels]]);
  *  - first-occurrence election is a window over the chunk's md5
  *    FINGERPRINT — one shuffle keyed by a 128-bit digest (bounded key
  *    width no matter how long chunks get), per-group state is one row;
  *  - reassembly shuffles once more on the document id. Nothing is
  *    ever collected; no all-pairs stage exists.
  */
object ChunkDedup {

  /** Dedup `textCol` in `chunkTokens`-token spans; first occurrence in
    * (`idCol`, position) order wins, later repeats (including repeats
    * WITHIN a document) are dropped. Returns
    * (idCol, n_chunks, n_kept, text_dedup) for every input row.
    */
  def dedupChunks(df: DataFrame, idCol: String, textCol: String,
                  chunkTokens: Int): DataFrame = {
    require(chunkTokens > 0, "chunkTokens must be positive")
    val c = chunkTokens
    val toks = graft.text.TextAnalysis.tokens(col(textCol))
    val nChunks = ((size(toks) + lit(c - 1)) / lit(c)).cast("int")
    val base = df.select(col(idCol), nChunks.as("n_chunks"),
      graft.text.TextAnalysis.tokenWindows(toks, c, c).as("__chunks"))
    val exploded = base
      .select(col(idCol), posexplode(col("__chunks")).as(Seq("__idx", "__chunk")))
      .withColumn("__fp", md5(col("__chunk")))

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__fp").orderBy(col(idCol).asc, col("__idx").asc)
    val kept = exploded
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .groupBy(idCol)
      .agg(count(lit(1)).cast("int").as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("__idx"), col("__chunk")))),
          s => s.getField("__chunk"))).as("text_dedup"))

    base.select(col(idCol), col("n_chunks"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol), col("n_chunks"),
        coalesce(col("n_kept"), lit(0)).as("n_kept"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"))
  }
}
