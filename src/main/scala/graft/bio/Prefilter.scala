package graft.bio

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Prefilter — the `comparekmertables` stage
  * (`src/sra/comparekmertables.cpp:346-650`).
  *
  * Relational skeleton: query k-mer extraction (F1, + F2 similar-k-mer
  * expansion when enabled) -> J1 equi-join against the unique-k-mer index ->
  * A2 per-(target,query) match-count gate (strict `>` at
  * `comparekmertables.cpp:60`, one window count) -> hit detail rows.
  *
  * The reference's two-pointer merge join over delta-decoded streams
  * (`:473-582`) deep-copies the whole query table per target-DB thread
  * (`:387-388`) — i.e. it IS a broadcast join. We declare the join and let
  * Catalyst pick: broadcast-hash when the query side is small (the common
  * shape — queries are a batch, targets are petabytes), SMJ on the sorted
  * bucketed index otherwise. AQE handles skewed popular k-mers.
  *
  * Strengthened vs reference (§2.12.1): the grouped writer's dropped-last-row
  * quirk is a bug; we keep every row of every qualifying group.
  */
object Prefilter {

  val RequiredKmerMatches = 2 // LocalParameters.h:144, strict >

  /** qkmers(queryId, kmerPos, kmer) x index(kmer, seqId[, seqLen]) ->
    * prefilter(targetId, queryId, kmerPos, kmer).
    */
  def run(queryKmers: DataFrame, index: DataFrame,
      requiredKmerMatches: Int = RequiredKmerMatches): DataFrame =
    countGate(queryKmers
      .join(index.select(col("kmer"), col("seqId").as("targetId")), Seq("kmer"))
      .select(col("targetId"), col("queryId"), col("kmerPos"), col("kmer")),
      Seq("targetId", "queryId"), requiredKmerMatches)

  /** As `run`, against a `buildWithPos` index: attaches the u32-wrapping
    * diagonal `diag = kmerPosInQuery - tpos` (C10, `blockalign.cpp:289` —
    * Int arithmetic wraps exactly like the reference's u32).
    *
    * The query k-mer table is explicitly broadcast-hinted: it comes from an
    * RDD-backed flatMap (no catalog stats), so Catalyst would otherwise
    * assume it huge and pick SMJ. The reference's design premise is the
    * same — the query table must fit in RAM/3 per thread
    * (comparekmertables.cpp:371-377). Pass broadcastQueries=false for
    * pathological query batches.
    */
  def runWithDiag(queryKmers: DataFrame, indexWithPos: DataFrame,
      requiredKmerMatches: Int = RequiredKmerMatches,
      broadcastQueries: Boolean = true): DataFrame = {
    val q = if (broadcastQueries) broadcast(queryKmers) else queryKmers
    countGate(q
      .join(indexWithPos.select(col("kmer"), col("seqId").as("targetId"), col("tpos")),
        Seq("kmer"))
      .select(col("targetId"), col("queryId"), col("kmerPos"), col("kmer"),
        (col("kmerPos") - col("tpos")).cast("int").as("diag")),
      Seq("targetId", "queryId"), requiredKmerMatches)
  }

  /** A2 count gate: keeps every hit row of the `groupCols` groups holding
    * more than `requiredKmerMatches` hits (strict `>`,
    * `comparekmertables.cpp:60`). One window count over the hits, so the
    * join that produces them (and the index scan under it) runs once; its
    * hash exchange on `groupCols` is the one the align stage's per-pair
    * aggregate reuses.
    */
  private[bio] def countGate(hits: DataFrame, groupCols: Seq[String],
      requiredKmerMatches: Int): DataFrame =
    hits
      .withColumn("nMatches",
        count(lit(1)).over(Window.partitionBy(groupCols.map(col): _*)))
      .filter(col("nMatches") > requiredKmerMatches)
      .drop("nMatches")

  /** Query-side k-mer table (`createQueryTable`,
    * `comparekmertables.cpp:126-302`), exact-matching path (F2 expansion is
    * layered on separately).
    */
  def queryKmers(sequences: DataFrame, k: Int = KmerIndex.DefaultK,
      alphabet: String = Matrices.KmerAlphabet): DataFrame =
    KmerCodec.explodeKmers(sequences, "seq", k, alphabet)
      .select(col("seqId").as("queryId"), col("kmerPos"), col("kmer"))
}
