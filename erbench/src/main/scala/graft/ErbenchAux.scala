package graft

import graft.operators.{Blocking, PairScoring}
import org.apache.spark.sql.DataFrame

/** The benchmark's access to the doc_features relation that
  * EntityResolution.run commits in a run directory: the two operator
  * functions that build it are package-private to the engine. */
object ErbenchAux {
  def docFeatures(toked: DataFrame, mediaTokens: DataFrame,
                  cfg: PairScoring.ScoreConfig): DataFrame =
    PairScoring.storedFeatures(toked, mediaTokens, cfg)
      .join(Blocking.docRefine(toked), "doc_id")
      .select("doc_id", "refine0", "refine1", "txt", "tok_ids", "m_ids", "x_ids")
}
