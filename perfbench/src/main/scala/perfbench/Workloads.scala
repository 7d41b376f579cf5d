package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.queries.GateQuery

/** One timed operation. `run` returns the seconds spent building the
  * DataFrame (eager operator work inside the library call), the seconds
  * spent materializing it, and a failure message if the operation threw
  * or its output did not match.
  */
final case class Op(name: String, module: String,
    run: () => (Double, Double, Option[String]))

/** The operations of one pass, in run order, the input size, and a check
  * of the outputs the last pass left behind (for workloads whose
  * operations do not check their own results).
  */
final case class Prepared(ops: Seq[Op], inputDocs: Long = 0L,
    finalCheck: Option[() => Option[String]] = None)

/** A named workload: its set-up makes the inputs of one run from the seed
  * and returns the operations of one pass.
  */
sealed trait Workload {
  def name: String
  def prepare(spark: SparkSession, seed: Long, dataDir: String,
      work: Path, refs: Map[String, String]): Prepared
}

/** The run budget fixes the size of each workload: a full comparison
  * (4 + 22 runs per workload, each a fresh JVM with its set-ups, a cold
  * pass and three steady passes) must finish within an hour on a noisy
  * four-core machine. So each
  * pass takes five to ten seconds at sf0.1, and the gate set is a fixed
  * sample of its population, chosen to span the operator modules and the
  * layers the workload is meant to stress. perfbench/README.md lists what
  * was left out.
  */
object Workloads {

  /** Short single-pass gates whose time is mostly fixed cost: JSON
    * extraction from event payloads (q23), cohort retention (q44),
    * embedding-centroid drift (d28) and corpus keyness (t44). With them,
    * two gates that keep other layers measured: a streaming ingest with
    * dedup state (d20, the streaming module and the state store) and
    * label propagation (d23, a budgeted-iteration graph operator whose
    * time is eager driver work and a lineage cut per round).
    */
  val Etl: Seq[String] = Seq("q23_json_extract", "q44_retention",
    "d28_centroid_drift", "t44_keyness", "d20_stream_ingest_dedup",
    "d23_label_prop")

  val all: Seq[Workload] = Seq(GateWorkload("etl_gates", Etl),
    CuratePipeline)

  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(s"unknown workload: $n (known: " +
      all.map(_.name).mkString(", ") + ")"))

  /** Operator module each operation calls into; gates built from plain
    * DataFrame and SQL calls are `sql`.
    */
  def module(op: String): String = Modules.getOrElse(op, "sql")

  private val Modules: Map[String, String] = Map(
    "q44_retention" -> "operators",
    "d28_centroid_drift" -> "similarity", "t44_keyness" -> "text",
    "d23_label_prop" -> "graph",
    "d20_stream_ingest_dedup" -> "streaming",
    // pipeline stages: MinHash-LSH and connected components dominate
    // curate; mix is graft.core.Splits; pack is graft.text.Packing
    "curate" -> "dedup", "mix" -> "core", "pack" -> "text")
}

/** Gate workloads: the seed permutes the gate order. Each gate's result is
  * collected in full, so every row and column is computed, including the
  * final sort, and the fingerprint of that same result is checked against
  * the reference.
  */
final case class GateWorkload(name: String, gates: Seq[String])
    extends Workload {

  def prepare(spark: SparkSession, seed: Long, dataDir: String, work: Path,
      refs: Map[String, String]): Prepared = {
    val byName = graft.SparkEntry.gateQueries.map(q => q.name -> q).toMap
    Prepared(GateWorkload.order(seed, gates).map { n =>
      val q = byName.getOrElse(n,
        throw new IllegalStateException(s"gate $n is not declared"))
      op(spark, q, dataDir, refs.get(n))
    })
  }

  private def op(spark: SparkSession, q: GateQuery, dataDir: String,
      ref: Option[String]): Op = Op(q.name, Workloads.module(q.name), () => {
    val t0 = System.nanoTime()
    try {
      val df = q.fn(spark, dataDir)
      val t1 = System.nanoTime()
      val rows = df.collect()
      val t2 = System.nanoTime()
      val fp = Fingerprint.of(df.schema, rows)
      val bad = ref match {
        case None => Some(s"no reference fingerprint (got $fp)")
        case Some(r) if r != fp => Some(s"fingerprint $fp != reference $r")
        case _ => None
      }
      ((t1 - t0) / 1e9, (t2 - t1) / 1e9, bad)
    } catch {
      case scala.util.control.NonFatal(e) =>
        ((System.nanoTime() - t0) / 1e9, 0.0,
          Some(s"${e.getClass.getSimpleName}: " +
            Option(e.getMessage).getOrElse("").linesIterator.take(1)
              .mkString.take(200)))
    }
  })
}

object GateWorkload {
  /** The seeded run order of a gate set. */
  def order(seed: Long, gates: Seq[String]): Seq[String] =
    new scala.util.Random(seed).shuffle(gates)
}

/** The composed `curate → mix → pack` chain, driven through the CLI's own
  * dispatch so the stages are exactly what `graft.cli.Main` runs. Each
  * stage writes parquet that the next one reads.
  */
object CuratePipeline extends Workload {
  val name = "curate_pipeline"
  /** Copies of the base corpus in the synthesized input. */
  val K = 1
  val SeqLen = 2048

  /** Copy-disjoint synthesis of K copies of `documents`: copy i renames
    * every non-stopword token with a two-letter tag, so shingles of
    * different copies never meet while each copy keeps the quality
    * features and the near-duplicate structure of the base corpus. The
    * seed draws the tags and the id offset of each copy.
    */
  def synthesize(spark: SparkSession, seed: Long, dataDir: String,
      out: String): Long = {
    val base = spark.read.parquet(s"$dataDir/documents.parquet")
    val copies = copyPlan(seed).map { case (tag, off) =>
      base.withColumn("doc_id", col("doc_id") + lit(off * 100000000L))
        .withColumn("text", regexp_replace(col("text"),
          "(?i)(?<!\\S)(?!(?:the|a|and|of|is)(?!\\S))(\\S+)", "$1" + tag))
    }
    copies.reduce(_ unionByName _).write.mode("overwrite").parquet(out)
    spark.read.parquet(out).count()
  }

  /** The seeded (tag, id offset) of each copy; tags are distinct. */
  def copyPlan(seed: Long): Seq[(String, Long)] = {
    val rnd = new scala.util.Random(seed)
    val tags = rnd.shuffle(for (a <- 'a' to 'z'; b <- 'a' to 'z')
      yield s"$a$b").take(K)
    val offsets = rnd.shuffle((1 to 1000).toList).take(K)
    tags.zip(offsets.map(_.toLong))
  }

  def prepare(spark: SparkSession, seed: Long, dataDir: String, work: Path,
      refs: Map[String, String]): Prepared = {
    val corpus = work.resolve("corpus.parquet").toString
    val docs = synthesize(spark, seed, dataDir, corpus)
    val probe = work.resolve("probe.txt")
    Files.write(probe, graft.queries.PipelineQueries.ContaminationProbe
      .mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val curated = work.resolve("curated.parquet").toString
    val mixed = work.resolve("mixed.parquet").toString
    val packed = work.resolve("packed.parquet").toString
    def stage(cmd: String, o: (String, String)*): Op =
      Op(cmd, Workloads.module(cmd), () => {
        val t0 = System.nanoTime()
        try {
          graft.cli.Main.dispatch(spark, cmd, o.toMap)
          (0.0, (System.nanoTime() - t0) / 1e9, None)
        } catch {
          case scala.util.control.NonFatal(e) =>
            ((System.nanoTime() - t0) / 1e9, 0.0,
              Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(200)))
        }
      })
    Prepared(Seq(
      stage("curate", "input" -> corpus, "output" -> curated,
        "probe-path" -> probe.toString),
      stage("mix", "input" -> curated, "output" -> mixed,
        "val-permille" -> "10", "test-permille" -> "10"),
      stage("pack", "input" -> mixed, "output" -> packed,
        "seq-len" -> SeqLen.toString)), docs,
      Some(() => Invariants.check(spark, corpus, curated, mixed, packed,
        SeqLen)))
  }
}

/** Properties of the pipeline's outputs that hold for any input corpus. */
object Invariants {
  def check(spark: SparkSession, corpus: String, curated: String,
      mixed: String, packed: String, seqLen: Int): Option[String] = {
    val in = spark.read.parquet(corpus)
    val cur = spark.read.parquet(curated)
    val mix = spark.read.parquet(mixed)
    val pack = spark.read.parquet(packed)
    def notIn(a: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame): Long =
      a.select("doc_id").join(b.select("doc_id"), Seq("doc_id"), "left_anti")
        .count()
    val mixTokens = mix.select(size(graft.functions.TextFunctions.tokens(
      col("text"))).cast("long").as("n")).filter(col("n") > 0)
      .agg(sum("n"), count(lit(1))).head()
    val p = pack.agg(sum("n_tokens"), count(lit(1)),
      sum(when(col("off_start") < 0 || col("off_start") >= seqLen, 1)
        .otherwise(0)),
      sum(when(col("seq_end") =!= ((col("seq_start") * seqLen +
        col("off_start") + col("n_tokens") - 1) / seqLen).cast("long"), 1)
        .otherwise(0))).head()
    // per shard, the spans tile the token stream with no gap or overlap
    val gaps = pack.groupBy("shard").agg(sum("n_tokens").as("t"),
        max(col("seq_start") * seqLen + col("off_start") + col("n_tokens"))
          .as("end"))
      .filter(col("t") =!= col("end")).count()
    val cnt = cur.count()
    Seq(
      (cnt > 0 && cnt <= in.count()) -> s"curated rows $cnt",
      (notIn(cur, in) == 0) -> "curated ids outside the input",
      (notIn(mix, cur) == 0) -> "mixed ids outside the curated set",
      (p.getLong(0) == mixTokens.getLong(0)) ->
        s"packed tokens ${p.get(0)} != mixed tokens ${mixTokens.get(0)}",
      (p.getLong(1) == mixTokens.getLong(1)) ->
        s"packed rows ${p.get(1)} != non-empty mixed rows ${mixTokens.get(1)}",
      (p.getLong(2) == 0) -> s"${p.get(2)} spans start outside [0, seqLen)",
      (p.getLong(3) == 0) -> s"${p.get(3)} spans end in the wrong sequence",
      (gaps == 0) -> s"$gaps shards whose spans do not tile")
      .collectFirst { case (false, msg) => msg }
  }
}
