package graft.perfbench

import scala.collection.immutable.ListMap

import graft.QuerySupport
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A benchmark workload: a panel of registry queries and the staged
  * relations they share.
  *
  * @param queries  the panel
  * @param staging  staged-relation tags built in set-up, in dependency
  *                 order
  * @param passS    nominal seconds of one warm pass; the warm pass count
  *                 is `seconds / passS`, so the sample count is fixed by
  *                 the run length
  */
final case class Workload(name: String, queries: Seq[String], staging: Seq[String],
                          passS: Double)

object Panels {
  /** Every `QuerySupport.session*` staging function, by tag, in
    * dependency order: shingles → mhpairs / mhsigs → paircommons →
    * cclabels; evedges; quantemb → ivfcells → ivfpairs.
    */
  val staging: ListMap[String, (SparkSession, String) => DataFrame] = ListMap(
    "shingles" -> QuerySupport.sessionShingles,
    "mhpairs" -> QuerySupport.sessionMinhashPairs,
    "mhsigs" -> QuerySupport.sessionMinhashSigs,
    "paircommons" -> QuerySupport.sessionPairCommons,
    "cclabels" -> QuerySupport.sessionCcLabels,
    "evedges" -> QuerySupport.sessionEventEdges,
    "quantemb" -> QuerySupport.sessionQuantEmb,
    "ivfcells" -> QuerySupport.sessionIvfCells,
    "ivfpairs" -> QuerySupport.sessionIvfPairsLoose)

  private def words(s: String): Seq[String] = s.split("\\s+").filter(_.nonEmpty).toSeq

  /** Each panel is a subset of the family it is named for (52 speech
    * and segment-algebra queries, 24 dedup / graph / similarity queries,
    * 41 streaming queries) that keeps every layer the workload is for
    * while one run, with its cold pass and set-up, stays near a minute on
    * a 4-core box. speech_pipeline: the VAD, separation and
    * diarization stages with the JVM codecs, window sessionization and
    * interval sweeps. dedup_graph: the iterative SSSP loop over the
    * staged event graph, the fused quantize / packed-ADC / cosine kernels
    * over the staged quantized embeddings, and a watermark-dedup stream
    * with state, which carries the streaming layer. streaming_ingest:
    * micro-batch streams over staged file sources.
    */
  private val speech = words("""
    m1_vad_gate m2_separate_transparent m_turns s2_codec_roundtrip j8_sweepline
    w1_sessionize p3_silence_union""")

  private val dedup = words("""
    g_sssp sim_sq_packed_topk sim_cosine_topk streaming_dedup_wm""")

  private val streaming = words("""
    streaming_ivf_ingest streaming_dedup_wm streaming_near_dup streaming_warc_ingest""")

  val all: ListMap[String, Workload] = ListMap(Seq(
    Workload("speech_pipeline", speech, Nil, 6.5),
    Workload("dedup_graph", dedup, Seq("evedges", "quantemb"), 7.3),
    Workload("streaming_ingest", streaming, Seq("quantemb", "ivfcells"), 4.2)
  ).map(w => w.name -> w): _*)
}
