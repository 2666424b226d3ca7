package graft.pipebench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Scale
import graft.core.Aggregations
import graft.dedup.Dedup
import graft.io.{ReadTable, WriteTable}
import graft.operators.Graph
import graft.streaming.Streaming
import graft.text.{Html, QualityRules, TextFunctions}

/** What one pipeline run hands back: the latency of each unit of work
  * the caller waited on, per-layer counts only the workload can see,
  * and materialised frames its output check needs. */
final case class Outcome(
    batchSecs: Seq[Double],
    counts: Map[String, Double] = Map.empty,
    frames: Map[String, DataFrame] = Map.empty)

/** A pipeline over staged inputs. `stage` writes the seeded inputs
  * under `in`; `prepare` computes known answers from them (part of
  * set-up, outside the timed window); `run` is the timed pipeline,
  * writing under `out`; `check` returns the problems found in a run's
  * output (empty when correct). */
abstract class Workload(val name: String) {
  def stage(spark: SparkSession, in: String, seed: Long): Unit
  def inputPaths(in: String): Seq[String]
  def inputRows(spark: SparkSession, in: String): Long =
    inputPaths(in).map(p => spark.read.parquet(p).count()).sum
  def prepare(spark: SparkSession, in: String): Unit = ()
  def run(spark: SparkSession, in: String, out: String, tr: Tracer, warm: Boolean): Outcome
  def check(spark: SparkSession, in: String, out: String, o: Outcome): Seq[String]

  /** Per-layer counts read after a traced run, outside the timed window. */
  def traceCounts(spark: SparkSession, in: String, out: String, o: Outcome): Map[String, Double] =
    Map.empty

  protected def expect(ok: Boolean, msg: => String): Seq[String] = if (ok) Nil else Seq(msg)

  /** A layer write that also records how many files it left. */
  protected def write(tr: Tracer, df: DataFrame, path: String): Map[String, Double] = {
    tr.call("io", "WriteTable.writeTable") {
      WriteTable.writeTable(df, path, "overwrite")
    }
    Map("io.files_written" -> Gen.size(path)._2.toDouble)
  }
}

object Workloads {
  val all: Seq[Workload] = Seq(DedupBatch, TextGate, IngestStream)
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  /** sf0.1 `documents` rows, and the `Scale.scaledDocs` factor both
    * corpus workloads use. The run budget sets it (README, "Sizes"). */
  val BaseDocs = 5000L
  val Scaled = 2

  /** The sf0.1-shaped documents through `Scale.scaledDocs`, whose
    * rotation cipher keeps duplicate density constant as it scales. */
  def scaledCorpus(spark: SparkSession, in: String, seed: Long): DataFrame = {
    Gen.write(Gen.documents(spark, seed, BaseDocs), s"$in/base/documents.parquet", 1)
    Scale.scaledDocs(spark, s"$in/base", Scaled)
  }

  def sumCounts(ms: Seq[Map[String, Double]]): Map[String, Double] =
    ms.flatten.groupMapReduce(_._1)(_._2)(_ + _)
}

/** LSH near-duplicate removal over the scaled corpus with planted
  * near-duplicate families and one boilerplate family larger than the
  * LSH bucket cap. */
object DedupBatch extends Workload("dedup_batch") {
  val Families = 300L
  val FamilyBase = 800000000L
  val BoilerSize = 1200L
  val BoilerBase = 900000000L
  val Threshold = 0.7

  def inputPaths(in: String): Seq[String] = Seq(s"$in/corpus")

  def stage(spark: SparkSession, in: String, seed: Long): Unit = {
    val fams = Gen.nearDupFamilies(spark, seed, Families, FamilyBase)
    val boiler = Gen.boilerplate(spark, seed, BoilerSize, BoilerBase)
    Gen.write(Workloads.scaledCorpus(spark, in, seed)
      .unionByName(fams.select("doc_id", "text"))
      .unionByName(boiler), s"$in/corpus")
    Gen.write(fams.select(col("doc_id"), col("family"), lit("family").as("kind"))
      .unionByName(boiler.select(col("doc_id"), lit(-1L).as("family"),
        lit("boiler").as("kind"))), s"$in/plants", 1)
  }

  def run(spark: SparkSession, in: String, out: String, tr: Tracer, warm: Boolean): Outcome = {
    val t0 = System.nanoTime()
    val docs = tr.frame("io", "ReadTable.readParquet") {
      ReadTable.readParquet(spark, s"$in/corpus", columns = Seq("doc_id", "text"))
    }
    val pairs = tr.reuse(tr.frame("dedup", "Dedup.minHashNearDuplicates") {
      Dedup.minHashNearDuplicates(docs, "text", "doc_id", threshold = Threshold)
    })
    val verified = tr.lastRows
    val comps = tr.frame("operators", "Graph.connectedComponents") {
      Graph.connectedComponents(pairs, "id_a", "id_b")
    }
    val losers = comps.filter(col("id") =!= col("component")).select(col("id").as("doc_id"))
    val files = Seq(
      write(tr, docs.join(losers, Seq("doc_id"), "left_anti"), s"$out/kept"),
      write(tr, pairs, s"$out/pairs"))
    Outcome(Seq((System.nanoTime() - t0) / 1e9),
      Workloads.sumCounts(files :+ Map("dedup.verified_pairs" -> verified.toDouble)),
      Map("components" -> comps))
  }

  def check(spark: SparkSession, in: String, out: String, o: Outcome): Seq[String] = {
    val kept = spark.read.parquet(s"$out/kept").select("doc_id")
    val pairs = spark.read.parquet(s"$out/pairs")
    val plants = spark.read.parquet(s"$in/plants")
    val comps = o.frames("components")
    val badPairs = pairs.filter(col("jaccard") < Threshold || col("id_a") >= col("id_b")).count()
    val fams = plants.filter(col("kind") === "family")
      .join(kept.withColumn("kept", lit(true)), Seq("doc_id"), "left")
      .groupBy("family")
      .agg(min("doc_id").as("first"),
        count(col("kept")).as("n_kept"),
        min(when(col("kept"), col("doc_id"))).as("kept_id"))
    val badFams = fams.filter(col("n_kept") =!= 1 || col("kept_id") =!= col("first")).count()
    val boilerKept = plants.filter(col("kind") === "boiler").join(kept, Seq("doc_id")).count()
    val nIn = spark.read.parquet(s"$in/corpus").count()
    val nKept = kept.count()
    val nodes = comps.count()
    val nComps = comps.select("component").distinct().count()
    expect(badPairs == 0, s"$badPairs pairs below threshold or not id_a < id_b") ++
      expect(badFams == 0, s"$badFams planted families did not collapse to their first id") ++
      expect(boilerKept == BoilerSize,
        s"$boilerKept of $BoilerSize over-cap boilerplate docs kept (cap drops their bucket)") ++
      expect(nKept == nIn - (nodes - nComps),
        s"kept $nKept != $nIn inputs - ($nodes component members - $nComps components)")
  }
}

/** HTML extraction, Gopher gate, quality/language columns, exact
  * dedup and per-language token statistics over the scaled corpus
  * wrapped as web pages, plus planted exact duplicates. */
object TextGate extends Workload("text_gate") {
  val DupBase = 500000000L
  val profiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to"),
    "de" -> Seq("spark", "stream", "window"),
    "fr" -> Seq("join", "merge", "table"),
    "es" -> Seq("query", "filter", "group"))

  def inputPaths(in: String): Seq[String] = Seq(s"$in/html")

  /** The page skeleton of the library's HTML-extraction fixtures: a
    * title, style, script, comment, heading, a two-link nav list and
    * the text as the one prose paragraph. */
  def page(id: Column, text: Column): Column = concat(
    lit("<html><head><title>Doc &amp; "), id,
    lit("</title><style>p { color: red }</style>"),
    lit("<script>var x = \"<p>hi</p>\";</script></head><body>"),
    lit("<!-- nav --><h1>Header "), id, lit("</h1><ul>"),
    lit("<li><a href=\"/home\">Home</a></li>"),
    lit("<li><a href=\"/p/"), id, lit("\">Next page "), id,
    lit("</a></li></ul><p>"), text, lit(" end.</p></body></html>"))

  def stage(spark: SparkSession, in: String, seed: Long): Unit = {
    val docs = Workloads.scaledCorpus(spark, in, seed)
    val dups = docs.filter(Gen.uniform(seed, 20, 100, col("doc_id")) === 0)
      .select((col("doc_id") + DupBase).as("doc_id"), col("text"))
    val all = docs.unionByName(dups)
    Gen.write(all.select(col("doc_id"), page(col("doc_id").cast("string"), col("text")).as("html")),
      s"$in/html")
  }

  /** Known answer: per-language (docs, tokens) from a plain-Spark
    * formulation over the same pages — the prose paragraph is the only
    * line extraction keeps; the gate rules, marker-vote language and
    * exact dedup are restated with builtins and relational joins. */
  private var expected: Map[String, (Long, Long)] = Map.empty

  override def prepare(spark: SparkSession, in: String): Unit = {
    val stop = array(QualityRules.gopherStopwords.map(lit): _*)
    val docs = spark.read.parquet(s"$in/html")
      .select(col("doc_id"),
        concat(regexp_extract(col("html"), "<p>([^<]*) end\\.</p></body>", 1), lit(" end."))
          .as("ext"))
      .withColumn("toks", split(col("ext"), " "))
      .withColumn("n_tok", size(col("toks")))
      .withColumn("len_sum", aggregate(col("toks"), lit(0), (a, t) => a + length(t)))
      .withColumn("n_alpha", size(filter(col("toks"), t => t.rlike("\\p{L}"))))
      .withColumn("n_stop", size(array_intersect(array_distinct(col("toks")), stop)))
      .withColumn("n_sym", length(col("ext")) - length(regexp_replace(col("ext"), "#", "")))
    val passed = docs.filter(
      col("n_tok").between(50, 100000) &&
        (col("len_sum") / col("n_tok")).between(3.0, 10.0) &&
        col("n_alpha") >= col("n_tok") * 0.8 &&
        col("n_sym") <= col("n_tok") * 0.1 &&
        col("n_stop") >= 2)
    val markers = profiles.zipWithIndex.flatMap { case ((lang, ms), rank) =>
      ms.map(m => (lang, rank, m)) }
    val votes = passed.select(col("doc_id"), explode(col("toks")).as("tok"))
      .join(spark.createDataFrame(markers).toDF("lang", "rank", "tok"), "tok")
      .groupBy("doc_id", "lang", "rank").count()
    val best = votes
      .withColumn("r", row_number().over(
        Window.partitionBy("doc_id")
          .orderBy(col("count").desc, col("rank"))))
      .filter(col("r") === 1).select("doc_id", "lang")
    val firstPerText = passed.groupBy("ext").agg(min("doc_id").as("doc_id"))
    expected = passed.join(firstPerText, Seq("ext", "doc_id"))
      .join(best, Seq("doc_id"), "left")
      .select(coalesce(col("lang"), lit(profiles.head._1)).as("lang"), col("n_tok"))
      .groupBy("lang").agg(count(lit(1)), sum("n_tok"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
  }

  def run(spark: SparkSession, in: String, out: String, tr: Tracer, warm: Boolean): Outcome = {
    val t0 = System.nanoTime()
    val pages = tr.frame("io", "ReadTable.readParquet") {
      ReadTable.readParquet(spark, s"$in/html")
    }
    val rowsIn = tr.lastRows
    val extracted = tr.frame("text", "Html.extract") {
      Html.extract(pages, "html").select("doc_id", "link_density", "text_extracted")
    }
    val flagged = tr.frame("text", "QualityRules.gopherFlags") {
      QualityRules.gopherFlags(extracted, "text_extracted")
        .select("doc_id", "link_density", "text_extracted", "gopher_pass")
    }
    val gated = tr.frame("text", "TextFunctions.qualityScore+langId") {
      flagged
        .withColumn("quality", TextFunctions.qualityScore(col("text_extracted")))
        .withColumn("lang", TextFunctions.langId(col("text_extracted"), profiles))
        .filter(col("gopher_pass")).drop("gopher_pass")
    }
    val passed = tr.lastRows
    val unique = tr.reuse(tr.frame("dedup", "Dedup.exactDedup") {
      Dedup.exactDedup(gated, "text_extracted", "doc_id")
    })
    val stats = tr.frame("core", "Aggregations.groupedAgg") {
      Aggregations.groupedAgg(
        unique.withColumn("n_tok", TextFunctions.tokenCount(col("text_extracted"))),
        Seq("lang"),
        Seq("docs" -> count(lit(1)), "tokens" -> sum("n_tok"), "quality" -> avg("quality")))
    }
    val files = Seq(
      write(tr, unique.drop("text_extracted"), s"$out/gated"),
      write(tr, stats, s"$out/stats"))
    Outcome(Seq((System.nanoTime() - t0) / 1e9),
      Workloads.sumCounts(files :+ Map(
        "text.rows_in" -> rowsIn.toDouble, "text.rows_passed" -> passed.toDouble)))
  }

  def check(spark: SparkSession, in: String, out: String, o: Outcome): Seq[String] = {
    val got = spark.read.parquet(s"$out/stats").collect()
      .map(r => r.getAs[String]("lang") -> (r.getAs[Long]("docs"), r.getAs[Long]("tokens"))).toMap
    expect(expected.nonEmpty, "no known answer") ++
      expect(got == expected, s"per-language (docs, tokens) $got != plain-Spark $expected")
  }
}

/** Micro-batches of SimHash fingerprints appended to the full-recall
  * survivors store, compacted every few batches, with exact and
  * cross-block near-duplicates planted across batch boundaries. */
object IngestStream extends Workload("ingest_stream") {
  val Batches = 20
  val PerBatch = 200L
  val PlantsPerBatch = 6
  val PlantBase = 1000000000L
  val CompactEvery = 5
  val MaxHamming = 3
  val WarmBatches = 2

  def inputPaths(in: String): Seq[String] = Seq(s"$in/batches")

  def stage(spark: SparkSession, in: String, seed: Long): Unit = {
    // document `key`: 80 tokens over a 20,000-word vocabulary, so
    // unrelated documents' fingerprints are far apart
    def fingerprints(df: DataFrame, key: String) =
      Streaming.shardedFingerprints(df.withColumn("text", array_join(
        transform(sequence(lit(1), lit(80)), i =>
          concat(lit("w"), Gen.uniform(seed, 50, 20000, col(key), i).cast("string"))),
        " ")), "id")
    val fps = fingerprints(spark.range(0, Batches * PerBatch, 1, 4).withColumn("key", col("id")), "key")
      .select(col("id"), col("sim"), (col("id") / PerBatch).cast("int").as("batch"))
    // plant j of batch b (id PlantBase + 100 b + j) re-sends doc `key`
    // of an earlier batch: exact for even j, otherwise with one flipped
    // bit in each of two or three distinct 16-bit blocks, so only a
    // probe over every block finds it
    val b = ((col("id") - PlantBase) / 100).cast("int")
    val j = (col("id") - PlantBase) % 100
    val mask = (0 until 3).map { k =>
      val block = pmod(Gen.uniform(seed, 52, 4, b, j) + k, lit(4L)) * 16
      val bit = call_function("shiftleft", lit(1L),
        (block + Gen.uniform(seed, 53 + k, 16, b, j)).cast("int"))
      val skip = if (k == 2) j % 2 === 0 || j % 4 === 1 else j % 2 === 0
      when(skip, lit(0L)).otherwise(bit)
    }.reduce(_ bitwiseOR _)
    val plants = fingerprints(
      spark.range(1, Batches, 1, 1)
        .withColumn("j", explode(sequence(lit(0L), lit(PlantsPerBatch - 1L))))
        .select((lit(PlantBase) + col("id") * 100 + col("j")).as("id"),
          (Gen.uniform(seed, 51, 1L << 40, col("id"), col("j")) % (col("id") * PerBatch)).as("key")),
      "key")
      .select(col("id"), col("sim").bitwiseXOR(mask).as("sim"), b.as("batch"))
    Gen.write(plants.select("id"), s"$in/plants", 1)
    fps.unionByName(plants).write.mode("overwrite").partitionBy("batch").parquet(s"$in/batches")
  }

  def run(spark: SparkSession, in: String, out: String, tr: Tracer, warm: Boolean): Outcome = {
    val store = s"$out/store"
    val n = if (warm) WarmBatches else Batches
    val secs = mutable.ArrayBuffer.empty[Double]
    for (b <- 0 until n) {
      val t0 = System.nanoTime()
      val batch = tr.frame("io", "ReadTable.readParquet") {
        ReadTable.readParquet(spark, s"$in/batches/batch=$b")
      }
      tr.call("streaming", "Streaming.appendBatchToFullRecallStore") {
        Streaming.appendBatchToFullRecallStore(batch, store, b.toLong, MaxHamming)
      }
      if (b > 0 && b % CompactEvery == 0)
        tr.call("streaming", "Streaming.compactFullRecallStore") {
          Streaming.compactFullRecallStore(spark, store, b - 1L)
        }
      secs += (System.nanoTime() - t0) / 1e9
    }
    Outcome(secs.toSeq, Map("streaming.batches" -> n.toDouble))
  }

  override def traceCounts(spark: SparkSession, in: String, out: String, o: Outcome)
      : Map[String, Double] = {
    val n = o.counts("streaming.batches").toInt
    val (bytes, files) = Gen.size(s"$out/store")
    val input = spark.read.parquet(s"$in/batches").filter(col("batch") < n).count()
    Map(
      "streaming.store_files" -> files.toDouble,
      "streaming.store_bytes" -> bytes.toDouble,
      "streaming.dropped_rows" -> (input - spark.read.parquet(s"$out/store").count()).toDouble)
  }

  def check(spark: SparkSession, in: String, out: String, o: Outcome): Seq[String] = {
    val n = o.counts("streaming.batches").toInt
    val input = spark.read.parquet(s"$in/batches").filter(col("batch") < n)
    val plants = spark.read.parquet(s"$in/plants").join(input, "id")
    val stored = spark.read.parquet(s"$out/store").select("id")
    val nStored = stored.count()
    val nDistinct = stored.distinct().count()
    val survivors = plants.join(stored, "id").count()
    val nIn = input.count()
    val nPlants = plants.count()
    expect(survivors == 0, s"$survivors planted duplicates survived") ++
      expect(nStored == nDistinct, s"store holds ${nStored - nDistinct} duplicate ids") ++
      expect(nStored + nPlants == nIn,
        s"rows not conserved: $nStored stored + $nPlants dropped plants != $nIn in")
  }
}
