package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.TableIO
import graft.sources.TableIO.TableManifest

/** S4/I3/I4 (SURVEY.md §4.3): per-stage checkpoint with per-partition lineage
  * and resume.
  *
  * Every stage writes parquet under `<root>/<stage>/data/` plus
  * `<root>/<stage>/_manifest.json` holding {rowCount, per-file row/byte
  * lineage, inputFingerprint, wallMs}. The manifest is written AFTER the data
  * (commit point), so a killed job re-runs the interrupted stage.
  *
  * Resume rule (I4): a stage is skipped iff its manifest exists AND its
  * recorded inputFingerprint equals the sha256 chained from the upstream
  * stages' stable manifests — so editing any upstream stage invalidates
  * everything downstream, while a pure re-run reuses all completed work.
  */
final class Checkpoint(spark: SparkSession, root: String) {

  /** Stages that were skipped (manifest hit) during this run — test/metrics hook. */
  val resumed: scala.collection.mutable.ArrayBuffer[String] = scala.collection.mutable.ArrayBuffer.empty
  /** Stages that were (re)computed during this run. */
  val computed: scala.collection.mutable.ArrayBuffer[String] = scala.collection.mutable.ArrayBuffer.empty

  private val fingerprints = scala.collection.mutable.Map.empty[String, String]

  /** Fingerprint of a completed stage: computation identity (the chained
    * input fingerprint) + logical output size. Physical layout (file count,
    * per-file rows, bytes, wallMs) is deliberately EXCLUDED — a resumed
    * upstream read from parquet partitions differently than a fresh
    * in-memory one, and identical logical content must fingerprint equal. */
  private def stableFingerprint(m: TableManifest): String =
    sha256(s"${m.table}|${m.rowCount}|${m.inputFingerprint}")

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Run (or resume) one stage. `inputs` are upstream stage names whose
    * fingerprints form this stage's input fingerprint; `extraInput` mixes in
    * external identity (e.g. the source table URI + config hash); `layout`
    * is the stage table's partition and sort layout. A miss (re)writes the
    * table through [[TableIO.writeTable]], whose commit protocol kills the
    * old manifest before the rewrite starts. */
  def stage(name: String, inputs: Seq[String] = Nil, extraInput: String = "",
            layout: TableIO.Layout = TableIO.Layout.Flat)
           (compute: => DataFrame): DataFrame = {
    val inputFp = sha256((inputs.map(fingerprints) :+ extraInput).mkString("|"))
    val dir = s"$root/$name"
    TableIO.readManifest(spark, s"$dir/_manifest.json") match {
      case Some(m) if m.inputFingerprint == inputFp =>
        resumed += name
        fingerprints(name) = stableFingerprint(m)
      case _ =>
        val m = TableIO.writeTable(spark, dir, name, layout, inputFp)(compute)
        computed += name
        fingerprints(name) = stableFingerprint(m)
    }
    spark.read.parquet(s"$dir/data")
  }
}
