package graft.llm

import graft.build.Persistence.{readChecked, toJson, writeChecked}
import graft.config.Config

/** Persisted ANN index artifacts — the serving-side counterpart of the
  * model dump (K1; ref: `gordo/serializer/serializer.py:150-196` for the
  * dir-layout contract): a trained IVF coarse quantizer
  * ([[Similarity.trainIvfCentroids]]) and/or PQ codebook
  * ([[Similarity.trainPqCodebook]]) save to a directory as `index.json`
  * + `info.json` (sha-256 checksum), the same layout discipline as
  * `Persistence.save`, so an ANN deployment round-trips the way models
  * already do: train once on the cluster, persist the (tiny —
  * centroids × D doubles) artifact, serve many sessions from it without
  * retraining. Everything is plain numbers in canonical JSON — no
  * opaque binary blobs — and `Double.toString`/`toDouble` round-trips
  * IEEE doubles exactly, so a loaded index scores bit-identically. */
object AnnIndex {

  /** A serveable ANN index: IVF centroids (possibly empty for PQ-only
    * scans), an optional PQ codebook (None → exact-vector scoring
    * within probed lists, the plain-IVF configuration), and the nprobe
    * the index was tuned for. */
  case class Index(centroids: Seq[(Int, Seq[Double])],
                   codebook: Option[Similarity.PqCodebook],
                   nprobe: Int)

  def save(dir: String, index: Index): Unit =
    writeChecked(dir, "index.json", toJson(Map(
      "centroids" -> index.centroids.map { case (cid, ce) =>
        Map("cid" -> cid, "ce" -> ce)
      },
      "codebook" -> index.codebook.map(_.asInstanceOf[Any]).getOrElse(null),
      "nprobe" -> index.nprobe)))

  def load(dir: String): Index = {
    val m = Config.parseYaml(readChecked(dir, "index.json"))
    def dbl(v: Any): Double = v.toString.toDouble
    val cents = m("centroids").asInstanceOf[List[Any]].map { c =>
      val cm = c.asInstanceOf[Map[String, Any]]
      (cm("cid").toString.toInt,
        cm("ce").asInstanceOf[List[Any]].map(dbl))
    }
    val cb = Option(m.getOrElse("codebook", null)).map { raw =>
      raw.asInstanceOf[List[Any]].map(_.asInstanceOf[List[Any]]
        .map(_.asInstanceOf[List[Any]].map(dbl)))
    }
    Index(cents, cb, m("nprobe").toString.toInt)
  }
}
