package perfbench

import org.apache.spark.sql.SparkSession

/** Fingerprints for the reference file. For each gate it prints
  * `gate<TAB>fresh<TAB>verify`: the fingerprint of a fresh collect of the
  * gate, and that of the gate's `graft.Verify` output (which the DuckDB
  * oracle checked) read back from parquet. `refs.py` writes the reference
  * file from these lines and refuses a gate whose two fingerprints differ.
  *
  *   perfbench.Refs --list                  (the gates, comma-separated)
  *   perfbench.Refs <dataDir> <verifyOutDir> <gate,gate,...>
  */
object Refs {
  def gates: Seq[String] = Workloads.all.collect {
    case g: GateWorkload => g.gates }.flatten

  def main(args: Array[String]): Unit = {
    if (args.sameElements(Array("--list"))) {
      println(gates.mkString(","))
      return
    }
    val Array(dataDir, verifyDir, names) = args
    val spark = graft.core.Graft.localSession(
      Runtime.getRuntime.availableProcessors, "graft-perfbench-refs")
    val byName = graft.SparkEntry.gateQueries.map(q => q.name -> q).toMap
    names.split(",").foreach { g =>
      val fresh = byName(g).fn(spark, dataDir)
      val fp = Fingerprint.of(fresh.schema, fresh.collect())
      spark.catalog.clearCache()
      val dir = new java.io.File(s"$verifyDir/$g")
      val vfp = if (!dir.isDirectory) "-" else {
        val v = spark.read.parquet(dir.getPath)
        Fingerprint.of(v.schema, v.collect())
      }
      println(s"$g\t$fp\t$vfp")
    }
    spark.stop()
  }
}
