package graft

import graft.api.Graft
import graft.apps.RagPipeline
import graft.operators.{PipelineOps, TranscriptOps}
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The paper's transcript surface on the `Graft` facade is the engine's
  * own: islands and alignment equal `TranscriptOps`, and rendered
  * dialogues equal the ones `RagPipeline.run` writes. Checked on the
  * hand-traced transcript fixtures and on the sf0.001 corpus stubs. */
class TranscriptFacadeSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))

  private def docs = Tables.documents(spark, sf)

  /** (segments, chunks) per fixture set. */
  private def inputs = Seq(
    "fixtures" -> (TranscriptOps.segmentsDf(spark), TranscriptOps.chunksDf(spark)),
    "sf0.001 stubs" -> (PipelineOps.fakeSegments(docs), PipelineOps.fakeChunks(docs)))

  test("coalesceSpeakerIslands == TranscriptOps.islands") {
    inputs.foreach { case (name, (segs, _)) =>
      val api = rows(Graft.coalesceSpeakerIslands(segs))
      assert(api.nonEmpty, name)
      assert(api == rows(TranscriptOps.islands(segs)), name)
    }
  }

  test("alignTranscript == TranscriptOps.align") {
    inputs.foreach { case (name, (segs, chunks)) =>
      val api = rows(Graft.alignTranscript(segs, chunks))
      assert(api.nonEmpty, name)
      assert(api == rows(TranscriptOps.align(segs, chunks)), name)
    }
  }

  test("renderDialogue lines == RagPipeline.run's dialogues") {
    val out = Files.createTempDirectory("graft_transcript_facade")
    try {
      RagPipeline.run(spark, sf, out.toString)
      val utt = Graft.alignTranscript(
        PipelineOps.fakeSegments(docs), PipelineOps.fakeChunks(docs))
      val api = utt.groupBy(col("file_id")).agg(array_join(
        transform(array_sort(collect_list(struct(
            col("utt_idx"), Graft.renderDialogue(utt).as("line")))),
          _.getField("line")), "\n").as("dialogue"))
      val written = rows(spark.read.parquet(s"$out/dialogues"))
      assert(written.nonEmpty)
      assert(rows(api) == written)
    } finally {
      val walk = Files.walk(out)
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      finally walk.close()
    }
  }
}
