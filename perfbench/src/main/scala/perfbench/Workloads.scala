package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What an operation body may do besides calling the library: build a
  * DataFrame (the `dt` layer, timed as its own span) and execute one.
  */
trait Ctx {
  def build(name: String)(f: => DataFrame): DataFrame
  def run(df: DataFrame): Unit
}

/** One operation of a round. `metrics` are the per-layer metrics its
  * time counts towards; `rows` the input rows it reads. In the
  * verification round the op's DataFrame, mapped by `checked`, is written
  * out for the checks instead of being dropped by the no-op sink, and
  * `dump` then writes any further state the checks need.
  */
final case class Op(name: String, metrics: Seq[String], rows: Long,
                    body: Ctx => Unit,
                    checked: Option[DataFrame => DataFrame] = None,
                    dump: Option[String => Unit] = None)

trait Workload {
  def ops: Seq[Op]
  /** Registry queries are cleared one by one in the cold pass (a batch
    * job pays every fit); `curate_corpus` clears once, before the round.
    */
  def coldPerOp: Boolean = false
  /** name -> DuckDB SQL that must reproduce the dumped result. */
  def oracles: Map[String, String] = Map.empty
}

object Workload {
  /** Full execution with nothing pruned: every column of every row is
    * produced and dropped by the no-op sink.
    */
  def sink(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def dumpParquet(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(path)
}

/** A fixed subset of the registered queries (`SparkEntry.queries`) over
  * generated tables of the registry schema, grouped by registering file,
  * plus an fwrite -> fread round trip of `lineitem`. The subset holds the
  * data.table operators the layer metrics name (GForce, keyed join, as-of
  * joins, overlap, the global-order window tier, reshape), TPC-H Q1 and
  * two text queries, so every registering file has a per-pass total; the
  * subset is fixed so that runs compare. Queries that write outside the run
  * directory (the registry's runtime round trips under /tmp) are not in it.
  */
final class Registry(spark: SparkSession, dir: String, work: String,
                     rows: Map[String, Long]) extends Workload {
  /** (per-file total, (query, its own layer metric)) */
  val groups: Seq[(String, Seq[(String, Option[String])])] = Seq(
    "registry.core_ms" -> Seq("q1_agg" -> None, "q_gforce" -> Some("functions.gforce_ms")),
    "registry.joins_ms" -> Seq("q_join_inner" -> Some("operators.join_ms"),
      "q_asof" -> Some("operators.asof_ms"), "q_asof_salted" -> Some("operators.asof_salted_ms"),
      "q_overlap" -> Some("operators.overlap_ms")),
    "registry.windows_ms" -> Seq("q_cumsum_global" -> Some("operators.global_cumsum_ms"),
      "q_frank_global" -> Some("operators.global_frank_ms"),
      "q_shift_global" -> Some("operators.global_shift_ms"),
      "q_froll_global" -> Some("operators.froll_ms")),
    "registry.reshape_set_ms" -> Seq("q_melt" -> Some("operators.melt_ms"),
      "q_dcast" -> Some("operators.dcast_ms")),
    "registry.text_sim_ms" -> Seq("q_quality" -> None, "q_dedup_exact" -> None))

  private val tableRe = graft.Tables.names.map(t => t -> s"\\b$t\\b".r)
  private val queryOracles: Map[String, String] =
    groups.flatMap(_._2).map { case (q, _) => q -> graft.SparkEntry.oracleSql(q) }.toMap
  private def inputRows(q: String): Long =
    tableRe.collect { case (t, re) if re.findFirstIn(queryOracles(q)).isDefined =>
      rows.getOrElse(t, 0L) }.sum

  // fwrite -> fread of lineitem's plain columns: fread is checked by a
  // checksum that runs unchanged on Spark and on DuckDB, fwrite by the
  // exact equality of fread(fwrite(x)) and x
  private val csvPath = s"$work/lineitem_csv"
  private val csvCols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus")
  private def lineitem = graft.Tables.load(spark, dir, "lineitem").select(csvCols.map(col): _*)
  private def freadBack(): DataFrame =
    graft.sources.Fread.fread(spark, csvPath).select(csvCols.map(col): _*)
  private val freadChecksum =
    """SELECT count(*) AS n, CAST(sum(l_orderkey) AS BIGINT) AS sok,
      |  CAST(sum(l_linenumber * l_partkey + l_suppkey) AS BIGINT) AS slp,
      |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) % 1000003) AS BIGINT) AS sp,
      |  CAST(sum(CAST(round((l_quantity + l_discount + l_tax) * 100) AS BIGINT)) AS BIGINT) AS sq,
      |  count(DISTINCT l_returnflag || l_linestatus) AS nflags FROM r""".stripMargin
  private def checksum(df: DataFrame): DataFrame = {
    df.createOrReplaceTempView("r")
    spark.sql(freadChecksum)
  }

  override val oracles: Map[String, String] = queryOracles +
    ("fread" -> s"WITH r AS (SELECT ${csvCols.mkString(", ")} FROM lineitem) $freadChecksum")

  override def coldPerOp: Boolean = true
  override val ops: Seq[Op] = groups.flatMap { case (total, qs) =>
    qs.map { case (q, layer) =>
      val fn = graft.SparkEntry.queries(q)
      Op(q, total +: layer.toSeq, inputRows(q), c => c.run(c.build(q)(fn(spark, dir))),
        checked = Some(identity))
    }
  } ++ Seq(
    Op("fwrite", Seq("sources.fwrite_ms"), rows("lineitem"),
      _ => graft.sources.Fread.fwrite(lineitem, csvPath),
      // the read-back, with the column types fread inferred cast back to
      // the source types, for the comparison with x
      dump = Some(out => Workload.dumpParquet(freadBack().select(
        lineitem.schema.fields.map(f => col(f.name).cast(f.dataType)): _*), s"$out/fwrite"))),
    Op("fread", Seq("sources.fread_ms"), rows("lineitem"),
      c => c.run(c.build("fread")(freadBack())), checked = Some(checksum)))
}

/** The corpus-curation loop: build a band index over the base corpus,
  * run daily batches through quality gate, exact dedup, an index probe
  * (read) and an append (write), compact, then a contamination scan and
  * the embedding pair/top-k searches.
  */
final class CurateCorpus(spark: SparkSession, dir: String, work: String,
                         rows: Map[String, Long], batches: Int) extends Workload {
  import graft.dedup.Dedup
  private val docs = spark.read.parquet(s"$dir/docs.parquet")
  private val base = docs.filter(col("batch") === -1).select("id", "text")
  private def batch(b: Int) = docs.filter(col("batch") === b).select("id", "text")
  private val bench = spark.read.parquet(s"$dir/bench.parquet")
  // the vector kernels read array<double>; float vectors from parquet are
  // cast first (see CHANGES.md: uncast, they fail inside the scan)
  private def doubles(name: String) = spark.read.parquet(s"$dir/$name.parquet")
    .withColumn("v", col("v").cast("array<double>"))
  private val vecs = doubles("vecs")
  private val queries = doubles("queries")
  private val index = s"$work/band_index"
  private val nBase = rows("base")
  private val nBatch = rows("batch")
  private val nVec = rows("vecs")
  private val threshold = 0.5
  private val cosThreshold = 0.9

  // state carried between the stages of one batch
  private var quality: DataFrame = _
  private var groups: DataFrame = _
  private var unique: DataFrame = _
  private var dups: DataFrame = _
  private var novel: DataFrame = _

  private def batchOps(b: Int): Seq[Op] = Seq(
    Op(s"quality_b$b", Seq("text.quality_ms"), nBatch, { c =>
      quality = c.build("quality")(graft.text.TextFunctions
        .withGopherFilter(batch(b), "text").filter(col("f.keep")).select("id", "text"))
        .localCheckpoint(true)
    }, dump = Some(out => Workload.dumpParquet(quality.select("id"), s"$out/quality_b$b"))),
    Op(s"exact_b$b", Seq("dedup.exact_ms"), nBatch, { c =>
      groups = c.build("exact")(Dedup.exactCanonical(quality, "text", "id"))
        .localCheckpoint(true)
      unique = quality.join(groups.select("id"), "id").localCheckpoint(true)
    }, dump = Some(out => Workload.dumpParquet(groups, s"$out/exact_b$b"))),
    Op(s"probe_b$b", Seq("dedup.index_probe_ms"), nBatch, { c =>
      dups = c.build("probe")(Dedup.minhashIncrementalIndexed(spark, index, unique,
        "id", "text", threshold = threshold)).localCheckpoint(true)
    }, dump = Some(out => Workload.dumpParquet(dups, s"$out/pairs_b$b"))),
    Op(s"append_b$b", Seq("dedup.index_append_ms"), nBatch, { c =>
      novel = unique.join(dups.select(col("new_id").as("id")).distinct(), Seq("id"),
        "left_anti").localCheckpoint(true)
      Dedup.appendToBandIndex(novel, "id", "text", index)
    }, dump = Some { out =>
      Workload.dumpParquet(novel.select("id"), s"$out/novel_b$b")
      Workload.dumpParquet(Dedup.bandIndexShingles(spark, index).select("id"),
        s"$out/index_b$b")
    }))

  override val ops: Seq[Op] =
    Seq(Op("index_save", Seq("dedup.index_save_ms"), nBase,
      _ => Dedup.saveBandIndex(base, "id", "text", index))) ++
      (0 until batches).flatMap(batchOps) ++ Seq(
      Op("index_compact", Seq("dedup.index_compact_ms"), nBase + batches * nBatch,
        _ => Dedup.compactBandIndex(spark, index): Unit,
        dump = Some(out => Workload.dumpParquet(
          Dedup.bandIndexShingles(spark, index).select("id"), s"$out/index_compacted"))),
      Op("contamination", Seq("curate.contamination_ms"), nBase, c => c.run(
        c.build("contamination")(graft.curate.Contamination.contaminated(
          base, bench, "id", "text", n = 13))), checked = Some(identity)),
      Op("cosine_pairs", Seq("sim.cosine_pairs_ms"), nVec, c => c.run(
        c.build("cosine_pairs")(graft.sim.Similarity.cosinePairs(vecs, "id", "v",
          dim = 64, nBits = 8, threshold = cosThreshold))), checked = Some(identity)),
      Op("lsh_topk", Seq("sim.lsh_topk_ms"), nVec, c => c.run(c.build("lsh_topk")(
        graft.sim.Similarity.lshTopK(vecs, queries, "id", "v", dim = 64, nBits = 8, k = 5))),
        checked = Some(identity)))
}
