package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.Using

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions._

import graft.Bench.{Outcome, Side}

/** Pins graft.Bench's measurement protocol: the per-query summary
  * (min, median, ratio of the mins), the interleaving of baseline
  * pairs, the stdout line's byte budget, and the re-run safety of
  * `SPARK_GRAFT_SCALE` staging. */
class BenchProtocolSpec extends SparkTestBase {

  /** A run function that replays `runs` in order and logs each call. */
  private def scripted(label: String, log: collection.mutable.Buffer[String])(
      runs: Option[Double]*): () => Option[Double] = {
    val it = runs.iterator
    () => { log += label; it.next() }
  }

  test("a failed run never lowers a min") {
    val log = collection.mutable.Buffer.empty[String]
    val o = Bench.measure("q",
      scripted("w", log)(Some(1.0), None, Some(0.75)),
      Some(scripted("r", log)(None, Some(0.5), Some(0.75))))
    assert(o.wrapped.contains(Side(0.75, 0.875)))
    assert(o.raw.contains(Some(Side(0.5, 0.625))))
    assert(o.ratio.contains(1.5))
    assert(Bench.side(Seq(None, Some(2.0), None)).contains(Side(2.0, 2.0)))
  }

  test("every query runs the same number of times; pairs alternate which side goes first") {
    val log = collection.mutable.Buffer.empty[String]
    def ones = Seq.fill(Bench.Runs)(Some(1.0))
    Bench.measure("q", scripted("w", log)(ones: _*), Some(scripted("r", log)(ones: _*)))
    assert(log == Seq("w", "r", "r", "w", "w", "r"))
    log.clear()
    val solo = Bench.measure("q", scripted("w", log)(ones: _*), None)
    assert(log == Seq("w", "w", "w") && solo.raw.isEmpty && solo.ratio.isEmpty)
  }

  test("a side with no successful run is reported SKIPPED, not as a ratio") {
    val noRaw = Bench.measure("q_no_raw", () => Some(1.0), Some(() => None))
    val noWrapped = Bench.measure("q_no_wrapped", () => None, Some(() => Some(1.0)))
    val ok = Outcome("q_ok", Some(Side(1.0, 1.0)), Some(Some(Side(2.0, 2.0))))
    assert(noRaw.raw.contains(None) && noRaw.ratio.isEmpty)
    assert(noWrapped.wrapped.isEmpty && noWrapped.ratio.isEmpty)
    val mapper = new ObjectMapper()
    val outcomes = Seq(noRaw, noWrapped, ok)
    val full = mapper.readTree(Bench.renderFull(outcomes, Nil))
    assert(full.get("baseline_ratios").get("q_no_raw").asText == "SKIPPED")
    assert(full.get("baseline_ratios").get("q_no_wrapped").asText == "SKIPPED")
    assert(full.get("baseline_ratios").get("q_ok").asDouble == 0.5)
    assert(full.get("queries").get("q_no_wrapped").asText == "SKIPPED")
    val compact = mapper.readTree(Bench.renderCompact(outcomes, Nil))
    assert(compact.get("ratio_summary").get("n").asInt == 1)
    assert(compact.get("skipped").get("names").elements.asScala.map(_.asText).toSeq ==
      Seq("q_no_raw", "q_no_wrapped"))
  }

  test("the stdout line for 254 queries and 82 ratios fits 1700 bytes and parses") {
    // 26-character names and two-digit seconds: longer than any
    // declared query's entry, so the real line is no longer than this
    val outcomes = (0 until 254).map { i =>
      val t = 10.0 + i * 0.37
      val raw = if (i % 3 == 0 && i < 246) Some(Some(Side(t / 1.37, t))) else None
      Outcome(f"q_protocol_budget_name_$i%03d", Some(Side(t, t + 1)), raw)
    }
    assert(outcomes.count(_.raw.isDefined) == 82)
    val meta = Seq("full_maps" -> "\"BENCHLOG.txt\"", "scale" -> "10",
      "stage_sec" -> "123.45", "cpus" -> "32", "sf" -> "\"sf0.1\"")
    val line = Bench.renderCompact(outcomes, meta)
    assert(line.getBytes("UTF-8").length <= 1700, s"${line.length} bytes")
    val json = new ObjectMapper().readTree(line)
    assert(json.get("n_queries").asInt == 254)
    assert(json.get("ratio_summary").get("n").asInt == 82)
    assert(json.get("scale").asInt == 10 && json.has("stage_sec"))
    val kept = json.get("queries").size
    assert(kept > 0 && kept + json.get("omitted_fastest").get("n").asInt == 254)
  }

  private def rows(path: Path): Long = spark.read.parquet(path.toString).count()

  private def links(dir: Path): Seq[Path] =
    Using.resource(Files.walk(dir))(_.iterator.asScala.filter(Files.isSymbolicLink).toList)

  /** Writes `df` as a single-file parquet table at `path`, the shape of
    * the generated test tables, rather than Spark's directory layout. */
  private def writeFile(df: org.apache.spark.sql.DataFrame, path: Path): Unit = {
    val tmp = Files.createTempDirectory("graft_bench_part")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.resolve("t").toString)
    val part = Using.resource(Files.list(tmp.resolve("t")))(
      _.iterator.asScala.find(_.toString.endsWith(".parquet")).get)
    Files.move(part, path)
  }

  /** A source corpus: `nDocs` documents plus `lineitem` and `nation`
    * tables, one written as a single file and one as a directory. */
  private def corpus(nDocs: Int, nLines: Int, nationAsFile: Boolean): Path = {
    val dir = Files.createTempDirectory("graft_bench_src")
    spark.range(nDocs).select(col("id").as("doc_id"),
        concat(lit("doc "), col("id").cast("string"), lit(" body text")).as("text"))
      .write.parquet(dir.resolve("documents.parquet").toString)
    val lineitem = spark.range(nLines).select(col("id").as("l_orderkey"))
    val nation = spark.range(nLines / 4).select(col("id").as("n_nationkey"))
    if (nationAsFile) {
      writeFile(nation, dir.resolve("nation.parquet"))
      lineitem.write.parquet(dir.resolve("lineitem.parquet").toString)
    } else {
      nation.write.parquet(dir.resolve("nation.parquet").toString)
      writeFile(lineitem, dir.resolve("lineitem.parquet"))
    }
    dir
  }

  test("staging is re-run safe: cleared first, byte copies, no links") {
    val small = corpus(nDocs = 120, nLines = 40, nationAsFile = true)
    val large = corpus(nDocs = 300, nLines = 100, nationAsFile = false)
    Files.writeString(small.resolve("region.parquet"), "only in the small corpus")
    val out = Files.createTempDirectory("graft_bench_stage").resolve("sf_x2")
    Files.createDirectories(out)
    // the state an earlier link-based staging left behind: a dangling
    // link and a link into another corpus
    Files.createSymbolicLink(out.resolve("lineitem.parquet"), out.resolve("gone"))
    Files.createSymbolicLink(out.resolve("orders.parquet"), large.resolve("nation.parquet"))
    for ((src, nDocs) <- Seq(small -> 120L, large -> 300L)) {
      Bench.stageScaled(spark, src.toString, 2, out.toString)
      assert(rows(out.resolve("documents.parquet")) == 2 * (nDocs + 50))
      for (t <- Seq("lineitem.parquet", "nation.parquet"))
        assert(rows(out.resolve(t)) == rows(src.resolve(t)), t)
      val staged = Using.resource(Files.list(out))(_.iterator.asScala.map(_.getFileName.toString).toSet)
      val source = Using.resource(Files.list(src))(_.iterator.asScala.map(_.getFileName.toString).toSet)
      assert(staged == source)
      assert(links(out).isEmpty)
    }
  }
}
