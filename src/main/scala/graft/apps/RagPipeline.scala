package graft.apps

import graft.Tables
import graft.api.Graft
import graft.operators.{PipelineOps, PrepOps, TranscriptOps}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's entire outer loop (`/root/reference/src/main.py:120-162`)
  * as ONE runnable Spark application: a user of the reference points this
  * at their corpus instead of running the poll loop.
  *
  * Reference loop                          → stage here
  * ------------------------------------------------------------------
  * list bucket, skip downloaded keys       → ingest(): anti-join vs state table
  * transcribe + diarize (GPU models)       → stub stage (fixture contract,
  *                                           SURVEY §7.1) → islands → align
  * _save_transcription (json + dialogue)   → utterances + dialogue parquet
  * build_embeddings (re-embeds EVERYTHING  → curate → chunk → hash-embed,
  *   every loop, main.py:106)                incremental by construction
  * faiss.write_index + metadata pickle     → index parquet (flat IP index
  *                                           ≡ the table, K3/K4)
  * implied IndexFlatIP search              → cosine top-k demo
  *
  * Where the reference stages through the filesystem and re-reads every
  * pass, each stage here is a lazy plan over the previous stage's
  * parquet; only macro-stage boundaries materialize (ingest state,
  * corpus, index) — the boundaries you would checkpoint at 100 TB.
  *
  * Run: `sbt "runMain graft.apps.RagPipeline <sfDir> <outDir>"`.
  */
object RagPipeline {

  /** A missing-path read failure (no state yet) vs a real one (corrupt
    * or unreadable state, which must FAIL the run rather than silently
    * re-ingest everything). */
  private def isPathMissing(e: org.apache.spark.sql.AnalysisException): Boolean =
    e.getMessage.contains("PATH_NOT_FOUND") ||
      e.getMessage.contains("Path does not exist")

  /** Current ingestion state: `stateDir`, else the `_old` generation a
    * crash mid-swap may have left behind, else empty (first run). */
  private def readState(spark: SparkSession, stateDir: String): DataFrame = {
    def empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      new org.apache.spark.sql.types.StructType()
        .add("doc_id", org.apache.spark.sql.types.LongType))
    try spark.read.parquet(stateDir)
    catch { case e: org.apache.spark.sql.AnalysisException if isPathMissing(e) =>
      try spark.read.parquet(stateDir + "_old")
      catch { case e2: org.apache.spark.sql.AnalysisException if isPathMissing(e2) =>
        empty
      }
    }
  }

  /** Exactly-once ingestion: new docs = corpus ∖ state (J2/T2 batch
    * form — the reference's downloaded_files.json, `aws_bucket.py:55-68`).
    * Writes the updated state beside the current one and swaps by
    * renaming the current generation aside (never delete-then-rename: a
    * crash between the renames still leaves `_old`, which readState
    * falls back to — no window where no state exists and the run would
    * re-ingest + duplicate the appended dialogues). A second run over
    * the same corpus ingests nothing. */
  def ingest(spark: SparkSession, docs: DataFrame, stateDir: String): DataFrame = {
    val state = readState(spark, stateDir)
    val fresh = docs.join(broadcast(state), Seq("doc_id"), "left_anti")
      .localCheckpoint() // pin: `fresh` must not observe the state swap below
    fresh.select(col("doc_id")).union(state)
      .write.mode(SaveMode.Overwrite).parquet(stateDir + "_next")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val cur = new org.apache.hadoop.fs.Path(stateDir)
    val old = new org.apache.hadoop.fs.Path(stateDir + "_old")
    fs.delete(old, true)
    if (fs.exists(cur)) fs.rename(cur, old)
    fs.rename(new org.apache.hadoop.fs.Path(stateDir + "_next"), cur)
    fs.delete(old, true) // new generation durable; retire the fallback
    fresh
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val outDir = if (args.length > 1) args(1) else "target/rag_pipeline_out"
    // the engine's one session config; SPARK_MASTER deploys it elsewhere
    val builder = graft.BenchEnv.session(graft.BenchEnv.cpus)
    sys.env.get("SPARK_MASTER").foreach(builder.master)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, sfDir, outDir) finally spark.stop()
  }

  def run(spark: SparkSession, sfDir: String, outDir: String): Unit = {
    // 1. ingest with exactly-once state
    val docs = Tables.documents(spark, sfDir)
    val fresh = ingest(spark, docs, s"$outDir/state")

    // 2. "transcribe"/"diarize" stubs → production islands + alignment →
    //    per-file dialogue (the reference's _save_transcription artifact).
    //    INCREMENTAL: only fresh files are transcribed, and the state
    //    gate makes the append exactly-once — a rerun appends nothing.
    val utt = TranscriptOps.align(
      PipelineOps.fakeSegments(fresh), PipelineOps.fakeChunks(fresh))
    utt.groupBy(col("file_id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(
            col("utt_idx"), col("speaker"), col("text"),
            col("t_start"), col("t_end")))),
          x => format_string("[%.2f-%.2f] %s: %s",
            x.getField("t_start"), x.getField("t_end"),
            x.getField("speaker"), x.getField("text"))), "\n").as("dialogue"))
      .write.mode(SaveMode.Append).parquet(s"$outDir/dialogues")

    // 3. dedup + curate the text corpus (the selection stages the
    //    reference lacks), then chunk to overlapping windows. REBUILT
    //    from the full corpus each run — quota selection is global, so
    //    it cannot be computed on the fresh increment alone (the
    //    reference also re-embeds everything each loop, main.py:106;
    //    at 100 TB this stage gates on a curation-state table instead).
    //    3a. near-dup CLUSTER dedup before quota selection: LSH pairs →
    //    connected components → drop every non-canonical member. The
    //    non-canonical id set is dedup OUTPUT-sized (tiny), so it
    //    broadcasts into a left-anti join against the corpus.
    val nonCanonical = Graft.clusterNearDups(
        Graft.minhashNearDups(docs, "doc_id", "text"), "a_id", "b_id")
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id").as("doc_id"))
    val deduped = docs.join(broadcast(nonCanonical), Seq("doc_id"), "left_anti")
    val curated = Graft.curateQuota(
      graft.operators.CurationOps.scored(deduped), "doc_id", "text", "lang", "quality_e6", 50)
    val chunks = PrepOps.chunkDocuments(curated.select(col("doc_id"), col("text")))

    // 4. embed chunks (deterministic hashing embedder standing in for the
    //    model, V1) → the flat-IP index IS the parquet table (K3), with
    //    chunk text as metadata alongside (K4). The index key is the
    //    COMPOSITE (doc_id, chunk_idx) struct — a derived scalar like
    //    doc_id*1000+chunk_idx collides once a document reaches 1000
    //    chunks and silently cross-attributes vectors to chunk text
    //    (PrepOps.chunkDocuments documents the same trap).
    val chunkKey = struct(col("doc_id"), col("chunk_idx"))
    val emb = PipelineOps.hashEmbeddings(
      chunks.select(chunkKey.as("doc_id"), col("chunk_text").as("text")))
    emb.select(col("doc_id").as("chunk_key"), col("vec"))
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/index")
    chunks.select(chunkKey.as("chunk_key"), col("chunk_text"))
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/index_meta")

    // 5. retrieval demo over the written index (K6 + V3) — the struct
    //    key flows through cosineTopK's join/window unchanged
    val index = spark.read.parquet(s"$outDir/index")
    val q = index.limit(3).select(col("chunk_key").as("qid"), col("vec").as("qvec"))
    Graft.cosineTopK(q,
        index.select(col("chunk_key").as("vec_id"), col("vec").as("embedding")), 3)
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/retrieval_demo")

    println(s"[rag-pipeline] staged artifacts under $outDir")
  }
}
