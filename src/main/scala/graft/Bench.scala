package graft
import java.nio.file.{FileVisitOption, Files, LinkOption, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

object Bench {

  // ----- shared building blocks for the hand-written baselines -----
  // (public Spark API only — no graft.* kernels; these are what a user
  // WITHOUT this library would write, per BASELINE.md's bar)

  private def rawNorm(text: Column): Column =
    lower(regexp_replace(trim(text), "\\s+", " "))

  private def rawToks(norm: Column): Column =
    when(length(norm) === 0, array().cast("array<string>"))
      .otherwise(split(norm, "\\s+"))

  /** events load with `ts` normalised to TimestampType. The ONE shared
    * dispatch (LongType nanos / TIMESTAMP_NTZ / TimestampType) lives in
    * [[graft.core.DataFrameOps.normalizeEventTs]]; sharing it here is
    * deliberate and does not breach the no-graft-kernels rule — it is
    * data-LOAD normalisation applied identically to both sides of every
    * ratio, not part of any measured operator. */
  private def rawEvents(s: SparkSession, d: String): DataFrame =
    graft.core.DataFrameOps.normalizeEventTs(
      s.read.parquet(s"$d/events.parquet"))

  private def rawAugmentedDocs(s: SparkSession, d: String): DataFrame = {
    val docs = s.read.parquet(s"$d/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val dups = docs.filter(col("doc_id") < 50)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" extra tail token")).as("text"))
    docs.unionByName(dups)
  }

  /** Scalable hand-written MinHash signature: explode the element
    * hashes, one codegen'd min-aggregate per seed (xxhash64(seed, h) —
    * the same derivation the library kernel uses), reassembled into the
    * signature array. The formulation a Spark engineer reaches for when
    * the interpreted per-element HOF is too slow. */
  private def rawMinHashSig(
      base: DataFrame, idC: String, hashC: String, numHashes: Int): DataFrame = {
    val minAggs = (0 until numHashes).map(i =>
      min(xxhash64(lit(i), col("h"))).as(s"m$i"))
    base.select(col(idC), explode(col(hashC)).as("h"))
      .groupBy(idC)
      .agg(minAggs.head, minAggs.tail: _*)
      .select(col(idC),
        array((0 until numHashes).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** (band, bucket) explode of a signature via string-hash banding. */
  private def rawBanded(
      sigDf: DataFrame, idC: String, bands: Int, rows: Int): DataFrame =
    sigDf.select(col(idC).as("id"), posexplode(
      transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(b, concat_ws(",",
          transform(slice(col("sig"), b * rows + 1, lit(rows)),
            x => x.cast("string")))))).as(Seq("band", "bucket")))

  /** Same-bucket candidate pairs with the 1000-member hot-bucket cap. */
  private def rawPairs(banded: DataFrame, cap: Int = 1000): DataFrame = {
    val counts = banded.groupBy("band", "bucket")
      .agg(count(lit(1)).as("n")).filter(col("n") <= cap).drop("n")
    val capped = banded.join(counts, Seq("band", "bucket"), "left_semi")
    capped.as("l").join(capped.as("r"),
        col("l.band") === col("r.band") &&
          col("l.bucket") === col("r.bucket") && col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Hand-written 128-bit SimHash fingerprints (id, w0, w1) — the
    * public-API formulation: two independent 64-bit token hashes
    * (xxhash64(tok) and xxhash64(seed, tok)), 128 codegen'd sum
    * aggregates for the bit votes. This is what a Spark engineer
    * writes without the native kernel; the kernel does one fused pass
    * per token instead of 128 aggregate states. */
  private def rawSimHash128(docs: DataFrame, idC: String): DataFrame = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    def votes(hc: String, pfx: String) = (0 until 64).map(b =>
      sum(shiftright(col(hc), b).bitwiseAND(lit(1L)) * 2 - 1).as(s"$pfx$b"))
    def assemble(pfx: String) = (0 until 64).map(b =>
      when(col(s"$pfx$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce((a, c) => a.bitwiseOR(c))
    val toksDf = docs
      .repartition(par)
      .withColumn("toks", rawToks(rawNorm(col("text"))))
      .select(col(idC), col("toks"))
    toksDf
      .select(col(idC), explode(col("toks")).as("tok"))
      .withColumn("th0", xxhash64(col("tok")))
      .withColumn("th1", xxhash64(lit(64), col("tok")))
      .groupBy(idC)
      .agg((votes("th0", "a") ++ votes("th1", "b")).head,
        (votes("th0", "a") ++ votes("th1", "b")).tail: _*)
      .select(col(idC).as("id"), assemble("a").as("w0"), assemble("b").as("w1"))
      .repartition(par)
  }

  /** Manku block banding over a two-word fingerprint: 16-bit single
    * blocks (the h<=7 rung), 8 bands. */
  private def rawBanded128(sig: DataFrame): DataFrame = {
    def block(i: Int): Column = {
      val w = if (i < 4) col("w0") else col("w1")
      shiftright(w, (i % 4) * 16).bitwiseAND(lit(0xFFFFL))
    }
    sig.select(col("id"),
      posexplode(array((0 until 8).map(block): _*)).as(Seq("band", "bucket")))
  }

  private def rawHamming128Pairs(sig: DataFrame, maxHamming: Int): DataFrame =
    rawPairs(rawBanded128(sig))
      .join(sig.select(col("id").as("id_a"), col("w0").as("a0"), col("w1").as("a1")), "id_a")
      .join(sig.select(col("id").as("id_b"), col("w0").as("b0"), col("w1").as("b1")), "id_b")
      .withColumn("hamming", bit_count(col("a0").bitwiseXOR(col("b0"))) +
        bit_count(col("a1").bitwiseXOR(col("b1"))))
      .filter(col("hamming") <= maxHamming)

  /** Set Jaccard from two hash-array columns via array_intersect/union. */
  private def rawJaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  /** Textbook iterative min-label propagation — the connected-components
    * loop a user writes without a CC operator. Converges in O(diameter)
    * rounds; near-dup clusters are tiny, so that is small here. */
  private def rawComponents(ids: DataFrame, pairs: DataFrame): DataFrame = {
    val edges = pairs.select(col("id_a").cast("long").as("u"), col("id_b").cast("long").as("v"))
    val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      .localCheckpoint(true)
    var labels = ids.select(col("id").cast("long").as("id"))
      .withColumn("lbl", col("id")).localCheckpoint(true)
    var changed = true
    var it = 0
    while (changed && it < 30) {
      val nbr = sym.join(labels.select(col("id").as("v"), col("lbl")), "v")
        .groupBy("u").agg(min("lbl").as("nlbl"))
      val next = labels.join(nbr.select(col("u").as("id"), col("nlbl")), Seq("id"), "left")
        .select(col("id"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
        .localCheckpoint(true)
      changed = next.join(labels.select(col("id"), col("lbl").as("old")), "id")
        .filter(col("lbl") =!= col("old")).limit(1).count() > 0
      labels = next
      it += 1
    }
    labels
  }

  /** Sequential-fold HOF cosine — bit-identical FP order to the
    * library's native kernel (dot and norms accumulate left-to-right). */
  private def rawCosine(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  /** Hand-written raw-Spark equivalents of representative wrapped
    * queries — the operative baseline per BASELINE.md ("the equivalent
    * native-Spark DataFrame plan on the same data"). Each ratio
    * wrapped/raw should sit near 1.0 for plan-sugar wrappers; the
    * kernel-backed dedup/LSH family should sit BELOW 1.0 (the custom
    * codegen expressions are the library's value over hand-rolled
    * formulations). Every raw query produces IDENTICAL results to its
    * wrapped counterpart (pinned by BenchBaselinesSpec). */
  private[graft] def baselines: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_expectations" -> ((s, d) => {
      // hand-written single-pass suite: one agg + inline, the plan the
      // wrapper compiles to (the one-scan-vs-N-scans WIN is measured
      // separately in SCALE.md's expectations_passes row)
      val li = s.read.parquet(s"$d/lineitem.parquet")
      val n = count(lit(1)).cast("double")
      def frac(c: String, pred: Column) = {
        val nn = count(col(c)).cast("double")
        when(nn === 0.0, 1.0)
          .otherwise(sum(when(col(c).isNotNull && pred, 1.0).otherwise(0.0)) / nn)
      }
      val one = li.agg(
        round(when(n === 0.0, 1.0).otherwise(count(col("l_quantity")).cast("double") / n), 6).as("m0"),
        round(when(count(col("l_orderkey")) === 0, 1.0)
          .otherwise(countDistinct(col("l_orderkey")).cast("double") /
            count(col("l_orderkey")).cast("double")), 6).as("m1"),
        round(frac("l_discount", col("l_discount").cast("double").between(0.0, 0.1)), 6).as("m2"),
        round(frac("l_linestatus", col("l_linestatus").rlike("^[OF]$")), 6).as("m3"),
        round(frac("l_returnflag", col("l_returnflag").isin("A", "N", "R")), 6).as("m4"),
        round(n, 6).as("m5"),
        round(avg(col("l_quantity").cast("double")), 6).as("m6"))
      one.select(inline(array(
        struct(lit("not_null").as("check"), lit("l_quantity").as("column"),
          col("m0").as("metric"), (col("m0") >= 1.0).as("passed")),
        struct(lit("unique").as("check"), lit("l_orderkey").as("column"),
          col("m1").as("metric"), (col("m1") === 1.0).as("passed")),
        struct(lit("between").as("check"), lit("l_discount").as("column"),
          col("m2").as("metric"), (col("m2") >= 1.0).as("passed")),
        struct(lit("matches").as("check"), lit("l_linestatus").as("column"),
          col("m3").as("metric"), (col("m3") >= 1.0).as("passed")),
        struct(lit("in_set").as("check"), lit("l_returnflag").as("column"),
          col("m4").as("metric"), (col("m4") >= 1.0).as("passed")),
        struct(lit("min_rows").as("check"), lit("*").as("column"),
          col("m5").as("metric"), (col("m5") >= 1000.0).as("passed")),
        struct(lit("mean_between").as("check"), lit("l_quantity").as("column"),
          col("m6").as("metric"), col("m6").between(20.0, 30.0).as("passed")))))
    }),
    "q_drift_cat" -> ((s, d) => {
      val orders = s.read.parquet(s"$d/orders.parquet")
      val cutoff = to_date(lit("1995-01-01"))
      val eps = 1e-6
      val key = coalesce(col("o_orderpriority").cast("string"), lit("(null)"))
        .as("category")
      val refC = orders.filter(col("o_orderdate") < cutoff).select(key)
        .groupBy("category").agg(count(lit(1)).as("n_ref"))
      val curC = orders.filter(col("o_orderdate") >= cutoff).select(key)
        .groupBy("category").agg(count(lit(1)).as("n_cur"))
      val j = refC.join(curC, Seq("category"), "full_outer")
        .select(col("category"), coalesce(col("n_ref"), lit(0L)).as("n_ref"),
          coalesce(col("n_cur"), lit(0L)).as("n_cur"))
      val tot = j.agg(sum("n_ref").as("tr"), sum("n_cur").as("tc"),
        count(lit(1)).as("k"))
      j.crossJoin(broadcast(tot))
        .withColumn("pr", (col("n_ref") + eps) / (col("tr") + col("k") * eps))
        .withColumn("pc", (col("n_cur") + eps) / (col("tc") + col("k") * eps))
        .select(col("category"), col("n_ref"), col("n_cur"),
          round(col("pr"), 6).as("p_ref"), round(col("pc"), 6).as("p_cur"),
          round((col("pc") - col("pr")) * log(col("pc") / col("pr")), 6).as("psi_term"),
          round(col("pc") * log(col("pc") / col("pr")), 6).as("kl_term"))
    }),
    "q_melt" -> ((s, d) => {
      val li = s.read.parquet(s"$d/lineitem.parquet")
        .select(col("l_orderkey").cast("long").as("l_orderkey"),
          col("l_linenumber").cast("long").as("l_linenumber"),
          col("l_quantity"), col("l_discount"), col("l_tax"))
      li.unpivot(Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_discount"), col("l_tax")),
        "variable", "value")
    }),
    "q_first_obs" -> ((s, d) =>
      s.read.parquet(s"$d/orders.parquet")
        .withColumn("rn", row_number().over(
          Window.partitionBy("o_custkey").orderBy("o_orderkey")))
        .filter(col("rn") === 1)
        .select(col("o_custkey").cast("long"), col("o_orderkey").cast("long"),
          col("o_totalprice"))),
    "q_window_running" -> ((s, d) =>
      s.read.parquet(s"$d/orders.parquet")
        .select(col("o_orderkey").cast("long"),
          round(sum("o_totalprice").over(
            Window.partitionBy("o_custkey").orderBy("o_orderdate")), 6)
            .as("run_total"))),
    "q_weighted_arith" -> ((s, d) => {
      val li = s.read.parquet(s"$d/lineitem.parquet")
        .withColumn("share", col("l_quantity") /
          sum("l_quantity").over(Window.partitionBy("l_returnflag")))
      li.groupBy("l_returnflag")
        .agg(round(sum(col("l_extendedprice") * col("share")), 6).as("wavg"))
    }),
    "q_exact_dedup" -> ((s, d) =>
      s.read.parquet(s"$d/documents.parquet")
        .withColumn("fp", md5(lower(regexp_replace(trim(col("text")), "\\s+", " "))))
        .withColumn("rn", row_number().over(
          Window.partitionBy("fp").orderBy("doc_id")))
        .filter(col("rn") === 1)
        .select(col("doc_id").cast("long"))),
    "q_tumbling" -> ((s, d) => {
      val ev = rawEvents(s, d)
      ev.groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 6).as("sum_value"))
        .select(col("window.start").cast("long").as("window_start"),
          col("window.end").cast("long").as("window_end"),
          col("event_type"), col("n_events"), col("sum_value"))
    }),
    "q_rank_numeric" -> ((s, d) =>
      s.read.parquet(s"$d/lineitem.parquet")
        .withColumn("rnk", row_number().over(
          Window.partitionBy("l_orderkey").orderBy(col("l_linenumber"))))
        .select(col("l_orderkey").cast("long").as("l_orderkey"),
          col("l_linenumber").cast("long").as("l_linenumber"),
          col("rnk").cast("long").as("rnk"))),
    "q_median_price" -> ((s, d) =>
      s.read.parquet(s"$d/lineitem.parquet")
        .withColumn("median_qty", percentile_approx(col("l_quantity"), lit(0.5), lit(10000))
          .over(Window.partitionBy("l_returnflag")))
        .select(col("l_returnflag"), col("median_qty"))
        .distinct()),
    "q_pushdown_read" -> ((s, d) =>
      s.read.parquet(s"$d/lineitem.parquet")
        .select("l_orderkey", "l_shipdate", "l_returnflag", "l_quantity")
        // dateRange end is EXCLUSIVE in the wrapped reader (and oracle)
        .filter(col("l_shipdate") >= lit("1995-01-01") &&
          col("l_shipdate") < lit("1996-01-01") &&
          col("l_returnflag").isin("A", "N"))
        .select(col("l_orderkey").cast("long").as("l_orderkey"),
          col("l_shipdate").cast("date").as("ship_date"),
          col("l_returnflag"), col("l_quantity"))),
    "q_det_sample" -> ((s, d) =>
      s.read.parquet(s"$d/orders.parquet")
        .select(col("o_orderkey").cast("long").as("o_orderkey"), col("o_totalprice"))
        .filter(substring(md5(concat(lit("s1"), col("o_orderkey").cast("string"))), 1, 8)
          < lit("19999999"))),
    "q_stratified_sample" -> ((s, d) =>
      // hand-written per-stratum md5 thresholds (same sampling rule)
      s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id").cast("long").as("doc_id"), col("lang"))
        .filter(col("lang") === "de" ||
          (col("lang") === "en" &&
            substring(md5(concat(lit("st"), col("lang"), col("doc_id").cast("string"))), 1, 8) < "40000000") ||
          (col("lang") === "fr" &&
            substring(md5(concat(lit("st"), col("lang"), col("doc_id").cast("string"))), 1, 8) < "80000000"))),
    "q_temperature_mix" -> ((s, d) => {
      // hand-written n^alpha rate derivation + md5 threshold
      val docs = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id").cast("long").as("doc_id"), col("lang"))
      val counts = docs.groupBy("lang").agg(count(lit(1)).as("n"))
      val z = counts.agg(sum(pow(col("n"), 0.5)).as("z"))
      val rates = counts.crossJoin(broadcast(z))
        .select(col("lang"), least(lit(1.0),
          round(lit(200.0) * pow(col("n"), 0.5) / col("z") / col("n"), 6)).as("rate"))
      docs.join(broadcast(rates), Seq("lang"))
        .filter(col("rate") >= 1.0 ||
          substring(md5(concat(lit("tm"), col("lang"), col("doc_id").cast("string"))), 1, 8) <
            format_string("%08x", floor(col("rate") * 4294967296.0).cast("long")))
        .select("doc_id", "lang")
    }),
    "q_pack_shards" -> ((s, d) =>
      // hand-written exclusive-cumsum chunking
      s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id").cast("long").as("doc_id"), col("source"),
          col("n_chars").cast("long").as("n_chars"))
        .withColumn("shard_id",
          floor(coalesce(sum(col("n_chars")).over(
            Window.partitionBy("source").orderBy("doc_id")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)) / 4000.0)
            .cast("long"))
        .select("doc_id", "source", "shard_id")),
    "q_pack_windows" -> ((s, d) =>
      // hand-written concat-and-chunk manifest: exclusive cumsum +
      // per-doc explode over spanned sequences
      {
        val L = lit(512L)
        val off = coalesce(sum(col("w")).over(
          Window.partitionBy("source").orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
        s.read.parquet(s"$d/documents.parquet")
          .select(col("doc_id").cast("long").as("doc_id"), col("source"),
            size(when(length(trim(col("text"))) === 0,
              array().cast("array<string>"))
              .otherwise(split(trim(col("text")), "\\s+"))).cast("long").as("w"))
          .filter(col("w") > 0)
          .withColumn("off", off)
          .withColumn("seq_id", explode(sequence(
            floor(col("off") / L).cast("long"),
            floor((col("off") + col("w") - 1) / L).cast("long"))))
          .select(col("source"), col("doc_id"), col("seq_id"),
            greatest(col("seq_id") * L - col("off"), lit(0L)).as("doc_start"),
            greatest(col("off") - col("seq_id") * L, lit(0L)).as("seq_start"),
            (least(col("off") + col("w"), (col("seq_id") + 1) * L)
              - greatest(col("off"), col("seq_id") * L)).as("n_tokens"))
      }),
    "q_pack_greedy" -> ((s, d) => {
      // hand-written secondary-sort greedy packing (same algorithm a
      // user would write directly)
      val src = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id").cast("long").as("doc_id"), col("source"),
          col("n_chars").cast("long").as("n_chars"))
      val schema = org.apache.spark.sql.types.StructType(src.schema.fields :+
        org.apache.spark.sql.types.StructField("shard_id",
          org.apache.spark.sql.types.LongType, nullable = false))
      src.repartition(col("source"))
        .sortWithinPartitions(col("source"), col("doc_id"))
        .mapPartitions { rows =>
          var cur: String = null; var shard = 0L; var fill = 0.0
          rows.map { r =>
            val g = r.getString(1); val w = r.getLong(2).toDouble
            if (g != cur) { cur = g; shard = 0L; fill = w }
            else if (fill + w > 4000.0) { shard += 1; fill = w }
            else fill += w
            org.apache.spark.sql.Row(r.getLong(0), g, r.getLong(2), shard)
          }
        }(org.apache.spark.sql.Encoders.row(schema))
        .select("doc_id", "source", "shard_id")
    }),
    "q_split" -> ((s, d) => {
      def h = substring(md5(concat(lit("sp"), col("doc_id").cast("string"))), 1, 8)
      s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id").cast("long").as("doc_id"))
        .withColumn("split",
          when(h < "cccccccc", "train").when(h < "e6666666", "val").otherwise("test"))
    }),
    "q_quota_sample" -> ((s, d) =>
      // hand-written rank-filter quota
      s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id").cast("long").as("doc_id"), col("lang"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("lang").orderBy(
            md5(concat(lit("q"), col("lang"), col("doc_id").cast("string"))),
            col("doc_id"))))
        .filter(col("rn") <= 20).drop("rn")),
    "q_pack_assemble" -> ((s, d) => {
      // hand-written greedy pack (text carried through the partition
      // walk, same as the wrapped path) + ordered-concat aggregate
      val src = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id").cast("long").as("doc_id"), col("source"),
          col("text"), col("n_chars").cast("long").as("n_chars"))
      val schema = org.apache.spark.sql.types.StructType(src.schema.fields :+
        org.apache.spark.sql.types.StructField("shard_id",
          org.apache.spark.sql.types.LongType, nullable = false))
      val packed = src.repartition(col("source"))
        .sortWithinPartitions(col("source"), col("doc_id"))
        .mapPartitions { rows =>
          var cur: String = null; var shard = 0L; var fill = 0.0
          rows.map { r =>
            val g = r.getString(1); val w = r.getLong(3).toDouble
            if (g != cur) { cur = g; shard = 0L; fill = w }
            else if (fill + w > 4000.0) { shard += 1; fill = w }
            else fill += w
            org.apache.spark.sql.Row(r.getLong(0), g, r.getString(2), r.getLong(3), shard)
          }
        }(org.apache.spark.sql.Encoders.row(schema))
      packed.groupBy("source", "shard_id")
        .agg(
          concat_ws("\n\n", transform(
            sort_array(collect_list(struct(col("doc_id").as("o"), col("text").as("t")))),
            x => x.getField("t"))).as("packed_text"),
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_weight"))
    }),
    "q_bloom_semi" -> ((s, d) => {
      // plain (non-bloom) semi join — what a user writes without the op
      val li = s.read.parquet(s"$d/lineitem.parquet")
        .select(col("l_orderkey").cast("long").as("l_orderkey"),
          col("l_quantity").cast("double").as("l_quantity"),
          col("l_linenumber").cast("long").as("l_linenumber"))
      val big = s.read.parquet(s"$d/orders.parquet")
        .filter(col("o_totalprice") > 450000.0)
        .select(col("o_orderkey").cast("long").as("o_orderkey"))
      li.join(big, li("l_orderkey") === big("o_orderkey"), "left_semi")
    }),
    "q_bloom_anti" -> ((s, d) => {
      val cust = s.read.parquet(s"$d/customer.parquet")
        .select(col("c_custkey").cast("long").as("c_custkey"), col("c_name"))
      val big = s.read.parquet(s"$d/orders.parquet")
        .filter(col("o_totalprice") > 450000.0)
        .select(col("o_custkey").cast("long").as("o_custkey"))
      cust.join(big, cust("c_custkey") === big("o_custkey"), "left_anti")
    }),
    // bloom-prefiltered decontamination vs the SAME hand-written exact
    // pass q_decontaminate is measured against: the ratio directly
    // prices what the bloom probe buys (or costs) at this SF
    "q_bloom_decontaminate" -> ((s, d) => baselines("q_decontaminate")(s, d)),
    "q_quantize" -> ((s, d) => {
      val dv = s.read.parquet(s"$d/embeddings.parquet")
        .select(col("vec_id").cast("long").as("vec_id"),
          col("embedding").cast("array<double>").as("e"))
        .withColumn("scale",
          coalesce(array_max(transform(col("e"), x => abs(x))), lit(0.0)) / 127.0)
      dv.withColumn("qvec",
          when(col("scale") === 0.0, transform(col("e"), _ => lit(0)))
            .otherwise(transform(col("e"), x => round(x / col("scale"), 0).cast("int"))))
        .select(col("vec_id"), round(col("scale"), 6).as("scale"),
          concat_ws(",", col("qvec")).as("qvec_csv"))
    }),

    // ------- the expensive family: dedup/LSH/stream/write/ANN -------

    "q_tpch_q1" -> ((s, d) =>
      s.read.parquet(s"$d/lineitem.parquet")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))
            * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
          round(avg("l_quantity"), 6).as("avg_qty"),
          round(avg("l_extendedprice"), 6).as("avg_price"),
          round(avg("l_discount"), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))),

    "q_minhash_dedup" -> ((s, d) => {
      val par = s.sparkContext.defaultParallelism
      val base = rawAugmentedDocs(s, d)
        .repartition(par)
        .withColumn("toks", rawToks(rawNorm(col("text"))))
        .withColumn("sh", array_distinct(filter(
          transform(sequence(lit(1), greatest(size(col("toks")) - 2, lit(1))),
            i => concat_ws(" ", slice(col("toks"), i, lit(3)))),
          x => length(x) > 0)))
        .withColumn("hs", transform(col("sh"), x => xxhash64(x)))
        .filter(size(col("hs")) > 0)
        .select("doc_id", "hs")
        .repartition(par)
      val sig = rawMinHashSig(base, "doc_id", "hs", 64)
      val pairs = rawPairs(rawBanded(sig, "doc_id", 16, 4))
      pairs
        .join(base.select(col("doc_id").as("id_a"), col("hs").as("hs_a")), "id_a")
        .join(base.select(col("doc_id").as("id_b"), col("hs").as("hs_b")), "id_b")
        .withColumn("jaccard", rawJaccard(col("hs_a"), col("hs_b")))
        .filter(col("jaccard") >= 0.7)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
    }),

    "q_dedup_against" -> ((s, d) => {
      // hand-written cross-corpus LSH: same shape as the q_minhash_dedup
      // raw but banding BOTH corpora and joining across them
      val par = s.sparkContext.defaultParallelism
      def gramify(df: DataFrame): DataFrame = df
        .repartition(par)
        .withColumn("toks", rawToks(rawNorm(col("text"))))
        .withColumn("sh", array_distinct(filter(
          transform(sequence(lit(1), greatest(size(col("toks")) - 2, lit(1))),
            i => concat_ws(" ", slice(col("toks"), i, lit(3)))),
          x => length(x) > 0)))
        .withColumn("hs", transform(col("sh"), x => xxhash64(x)))
        .filter(size(col("hs")) > 0)
        .select("doc_id", "hs")
        .repartition(par)
      val docs = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val ref = docs.filter(col("doc_id") < 250)
      val fresh = docs.filter(col("doc_id") >= 250)
        .unionByName(docs.filter(col("doc_id") < 50)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(col("text"), lit(" extra tail token")).as("text")))
      val fb = gramify(fresh)
      val rb = gramify(ref)
      val fBand = rawBanded(rawMinHashSig(fb, "doc_id", "hs", 64), "doc_id", 16, 4)
      val rBand = rawBanded(rawMinHashSig(rb, "doc_id", "hs", 64), "doc_id", 16, 4)
      val ok = rBand.groupBy("band", "bucket")
        .agg(count(lit(1)).as("n")).filter(col("n") <= 1000).drop("n")
      val rCapped = rBand.join(ok, Seq("band", "bucket"), "left_semi")
      val pairs = fBand.as("n").join(rCapped.as("r"),
          col("n.band") === col("r.band") && col("n.bucket") === col("r.bucket"))
        .select(col("n.id").as("id_a"), col("r.id").as("id_b"))
        .dropDuplicates("id_a", "id_b")
      val dropped = pairs
        .join(fb.select(col("doc_id").as("id_a"), col("hs").as("hs_a")), "id_a")
        .join(rb.select(col("doc_id").as("id_b"), col("hs").as("hs_b")), "id_b")
        .withColumn("jaccard", rawJaccard(col("hs_a"), col("hs_b")))
        .filter(col("jaccard") >= 0.7)
        .select(col("id_a").as("doc_id")).distinct()
      fresh.join(dropped, Seq("doc_id"), "left_anti").select(col("doc_id"))
    }),

    "q_simhash_dedup" -> ((s, d) => {
      val par = s.sparkContext.defaultParallelism
      val toksDf = rawAugmentedDocs(s, d)
        .repartition(par)
        .withColumn("toks", rawToks(rawNorm(col("text"))))
        .select("doc_id", "toks")
      // per-bit ±1 votes as 64 codegen'd aggregates over exploded tokens
      val voteAggs = (0 until 64).map(b =>
        sum(shiftright(col("th"), b).bitwiseAND(lit(1L)) * 2 - 1).as(s"v$b"))
      val simDf = toksDf
        .select(col("doc_id"), explode(col("toks")).as("tok"))
        .withColumn("th", xxhash64(col("tok")))
        .groupBy("doc_id")
        .agg(voteAggs.head, voteAggs.tail: _*)
        .select(col("doc_id").as("id"),
          (0 until 64).map(b =>
            when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
            .reduce((a, c) => a.bitwiseOR(c)).as("sim"))
        .repartition(par)
      // Manku'07 block-pair index for Hamming <= 6 (8 blocks, C(8,2))
      def block(i: Int): Column =
        shiftright(col("sim"), i * 8).bitwiseAND(lit(0xFFL))
      val bucketExprs = (0 until 8).combinations(2).toSeq.map { c =>
        shiftleft(block(c(0)), 8).bitwiseOR(block(c(1))) }
      val banded = simDf.select(col("id"),
        posexplode(array(bucketExprs: _*)).as(Seq("band", "bucket")))
      rawPairs(banded)
        .join(simDf.select(col("id").as("id_a"), col("sim").as("sim_a")), "id_a")
        .join(simDf.select(col("id").as("id_b"), col("sim").as("sim_b")), "id_b")
        .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
        .filter(col("hamming") <= 6)
        .agg(
          sum(when(col("hamming") > 6, 1L).otherwise(0L)).as("n_bad_hamming"),
          sum(when(col("id_a") >= col("id_b"), 1L).otherwise(0L)).as("n_bad_order"),
          (count(lit(1)) - countDistinct(col("id_a"), col("id_b"))).as("n_dup_pairs"),
          (count(lit(1)) >= 1).as("has_pairs"))
    }),

    "q_simhash128" -> ((s, d) =>
      // same invariant aggregate over hand-written 128-bit fingerprints
      // at the same 8-band rung; word-1 hashes differ from the kernel's
      // remix (both are valid independent families), so the PAIR sets
      // can differ while every contractual invariant must agree
      rawHamming128Pairs(rawSimHash128(rawAugmentedDocs(s, d), "doc_id"), 7)
        .agg(
          sum(when(col("hamming") > 7, 1L).otherwise(0L)).as("n_bad_hamming"),
          sum(when(col("id_a") >= col("id_b"), 1L).otherwise(0L)).as("n_bad_order"),
          (count(lit(1)) - countDistinct(col("id_a"), col("id_b"))).as("n_dup_pairs"),
          (count(lit(1)) >= 1).as("has_pairs"))),

    "q_pipeline_docs128" -> ((s, d) => {
      // the end-to-end 128-bit dedup pipeline hand-written: planted
      // exact copies AND bit-flipped near-dups (Hamming <= 7),
      // hand-written fingerprints + banding, anti-join drop
      val par = s.sparkContext.defaultParallelism
      val docs = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val copies = docs.filter(col("doc_id") < 50)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val corpus = docs.unionByName(copies).repartition(par)
      val fps = rawSimHash128(corpus, "doc_id")
      // plant mask + outcome oracle are SHARED with the wrapped query
      // (SparkEntry.neardupPlantMask / pipeline128Outcome) so the plant
      // scheme cannot diverge; only the banding under measurement here
      // is baseline-specific
      val near = fps.filter(col("id") < 50)
        .select((col("id") + 2000000L).as("id"),
          col("w0").bitwiseXOR(SparkEntry.neardupPlantMask).as("w0"), col("w1"))
      val allFps = fps.unionByName(near)
      val pairs = rawHamming128Pairs(allFps, 7)
      val kept = allFps.join(
        pairs.select(col("id_b").as("id")).distinct(), Seq("id"), "left_anti")
      SparkEntry.pipeline128Outcome(kept, allFps)
    }),

    "q_stream_dedup" -> ((s, d) => {
      // hand-written streaming-dedup baseline: hand-rolled 64-bit
      // fingerprints (word 0 of the raw 128-bit votes), plain
      // flatMapGroups with a local seen-list instead of GroupState —
      // the loop a user writes when they don't need cross-batch state.
      // Fingerprint families differ from the kernel's, so survivor
      // SETS differ; the invariant outputs are the same constants.
      import s.implicits._
      val par = s.sparkContext.defaultParallelism
      val docs = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val copies = docs.filter(col("doc_id") < 50)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val corpus = docs.unionByName(copies).repartition(par)
      val fps = rawSimHash128(corpus, "doc_id")
        .select(shiftrightunsigned(col("w0"), 48).cast("string").as("key"),
          col("id"), col("w0").as("sim"))
        // fence the kernel once — fps feeds the dedup and the
        // invariant joins, mirroring the wrapped query's checkpoint
        .localCheckpoint(true)
      val kept = fps.toDF("_1", "_2", "_3").as[(String, Long, Long)]
        .groupByKey(_._1)
        .flatMapGroups { (_, rows) =>
          var seen = List.empty[Long]
          val out = scala.collection.mutable.ListBuffer.empty[(String, Long, Long)]
          rows.foreach { r =>
            if (!seen.exists(fp => java.lang.Long.bitCount(fp ^ r._3) <= 3)) {
              out += r
              seen ::= r._3
            }
          }
          out.iterator
        }.toDF("key", "id", "sim").localCheckpoint(true)
      // invariant oracle is SHARED with the wrapped query (identical
      // output shape is what the ratio loop and BenchBaselinesSpec
      // compare); only the dedup computation above is baseline-specific
      SparkEntry.streamDedupInvariants(fps, kept, corpus, 3)
    }),

    "q_stream_dedup_evtime" -> ((s, d) => {
      // hand-written event-time window dedup baseline: hand-rolled
      // 64-bit fingerprints, plain flatMapGroups with a local (fp, ts)
      // seen-list and the |Δt| <= ttl window check — the loop a user
      // writes without cross-batch state. Derived ts and invariant
      // oracle are SHARED with the wrapped query (evtimeDerivedMs /
      // streamDedupWindowInvariants); the dedup computation and
      // fingerprint family are baseline-specific.
      import s.implicits._
      val par = s.sparkContext.defaultParallelism
      val docs = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val copies = docs.filter(col("doc_id") < 50)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val corpus = docs.unionByName(copies).repartition(par)
      val ttlMs = 60L * 60_000L
      val fps = rawSimHash128(corpus, "doc_id")
        .select(shiftrightunsigned(col("w0"), 48).cast("string").as("key"),
          col("id"), col("w0").as("sim"))
        .withColumn("ts", SparkEntry.evtimeDerivedMs)
        .localCheckpoint(true)
      val kept = fps.toDF("_1", "_2", "_3", "_4")
        .as[(String, Long, Long, Long)]
        .groupByKey(_._1)
        .flatMapGroups { (_, rows) =>
          var seen = List.empty[(Long, Long)]
          val out =
            scala.collection.mutable.ListBuffer.empty[(String, Long, Long, Long)]
          rows.foreach { r =>
            if (!seen.exists { case (fp, t) =>
                math.abs(t - r._4) <= ttlMs &&
                  java.lang.Long.bitCount(fp ^ r._3) <= 3 }) {
              out += r
              seen ::= ((r._3, r._4))
            }
          }
          out.iterator
        }.toDF("key", "id", "sim", "ts").localCheckpoint(true)
      SparkEntry.streamDedupWindowInvariants(fps, kept, corpus, 3, ttlMs)
        // shared real-streaming late-drop probe (see evtimeLateProbe):
        // the contract is streaming-only, so both faces carry it and
        // the measured difference stays the dedup computation
        .crossJoin(SparkEntry.evtimeLateProbe(s))
    }),

    "q_stream_dedup_fullrecall" -> ((s, d) => {
      // hand-written full-recall incremental dedup: hand-rolled 64-bit
      // fingerprints (word 0 of the raw 128-bit votes), hand-written
      // 4-block banding, and a two-batch parquet survivors-store loop —
      // the incremental job a user writes without the library. Plant
      // mask + invariant oracle are SHARED with the wrapped query
      // (SparkEntry.crossBlockPlantMask / fullRecallInvariants); the
      // fingerprint family differs so survivor SETS differ, but the
      // invariant outputs are the same constants. The wrapped face
      // additionally splits the plants over two batches and folds the
      // store mid-stream (compactFullRecallStore) — extra work the
      // hand-written side skips, priced against the wrapped column.
      val par = s.sparkContext.defaultParallelism
      // same 1,000-doc cap as the wrapped face (see SparkEntry) — the
      // pair must measure the same corpus
      val docs = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
        .filter(col("doc_id") < 1000)
      val fps0 = rawSimHash128(docs.repartition(par), "doc_id")
        .select(col("id"), col("w0").as("sim"))
        .localCheckpoint(true) // one kernel pass, mirroring the wrapped fence
      val copies = fps0.filter(col("id") < 50)
        .select((col("id") + 1000000L).as("id"), col("sim"))
      val nearDups = fps0.filter(col("id") >= 50 && col("id") < 100)
        .select((col("id") + 2000000L).as("id"),
          col("sim").bitwiseXOR(SparkEntry.crossBlockPlantMask).as("sim"))
      val all = fps0.unionByName(copies).unionByName(nearDups)
        .localCheckpoint(true)
      def banded(df: DataFrame): DataFrame = df.select(col("id"), col("sim"),
        posexplode(array((0 until 4).map(i =>
          shiftright(col("sim"), i * 16).bitwiseAND(lit(0xFFFFL))): _*))
          .as(Seq("band", "bucket")))
      val store = java.nio.file.Files
        .createTempDirectory("graft_fullrecall_raw").toString + "/store"
      def runBatch(batch: DataFrame, batchId: Long): Unit = {
        val pairs = rawPairs(banded(batch))
          .join(batch.select(col("id").as("id_a"), col("sim").as("a")), "id_a")
          .join(batch.select(col("id").as("id_b"), col("sim").as("b")), "id_b")
          .filter(bit_count(col("a").bitwiseXOR(col("b"))) <= 3)
        val within = batch.join(
          pairs.select(col("id_b").as("id")).distinct(), Seq("id"), "left_anti")
        val prior =
          if (batchId == 0L) s.createDataFrame(
            java.util.Collections.emptyList[org.apache.spark.sql.Row](),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("id",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("sim",
                org.apache.spark.sql.types.LongType))))
          else s.read.parquet(store).select("id", "sim")
        val hits = banded(prior)
          .join(broadcast(banded(within).select(col("band"), col("bucket"),
            col("id").as("n_id"), col("sim").as("n_sim"))), Seq("band", "bucket"))
          .filter(bit_count(col("sim").bitwiseXOR(col("n_sim"))) <= 3)
          .select(col("n_id").as("id")).distinct()
        within.join(hits, Seq("id"), "left_anti")
          .localCheckpoint(true) // cut lineage off the store path pre-write
          .write.mode("append").parquet(store)
      }
      runBatch(all.filter(col("id") < 1000000L), 0L)
      runBatch(all.filter(col("id") >= 1000000L), 1L)
      // no checkpoint fence on kept: the parquet store is the
      // materialisation, mirroring the wrapped face
      val kept = s.read.parquet(store).select("id", "sim")
      SparkEntry.fullRecallInvariants(all, kept)
    }),

    "q_ngram_lsh" -> ((s, d) => {
      val par = s.sparkContext.defaultParallelism
      val base = rawAugmentedDocs(s, d)
        .repartition(par)
        .withColumn("norm", rawNorm(col("text")))
        .withColumn("grams", array_distinct(filter(
          transform(sequence(lit(1), greatest(length(col("norm")) - 2, lit(1))),
            i => col("norm").substr(i, lit(3))),
          g => length(g) === 3)))
        .withColumn("gh", transform(col("grams"), g => xxhash64(g)))
        .filter(size(col("gh")) > 0)
        .select("doc_id", "gh")
        .repartition(par)
      val sig = rawMinHashSig(base, "doc_id", "gh", 72)
      val pairs = rawPairs(rawBanded(sig, "doc_id", 12, 6))
      pairs
        .join(base.select(col("doc_id").as("id_a"), col("gh").as("gh_a")), "id_a")
        .join(base.select(col("doc_id").as("id_b"), col("gh").as("gh_b")), "id_b")
        .withColumn("jaccard", rawJaccard(col("gh_a"), col("gh_b")))
        .filter(col("jaccard") >= 0.8)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
    }),

    "q_stream_exec" -> ((s, d) => {
      val rawSchema = s.read.parquet(s"$d/events.parquet").schema
      val rawStream = s.readStream.schema(rawSchema)
        .option("pathGlobFilter", "events.parquet").parquet(d)
      val converted = graft.core.DataFrameOps.normalizeEventTs(rawStream)
      val agg = converted.withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
        .select(col("window.start").as("window_start"),
          col("window.end").as("window_end"), col("event_type"),
          col("n_events"), col("sum_value"))
      val q = agg.writeStream.format("memory")
        .queryName("graft_bench_raw_stream").outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      // a timed-out AvailableNow run leaves the memory sink incomplete —
      // surface that as a failure rather than timing a partial result
      if (!q.awaitTermination(120000)) {
        q.stop()
        throw new IllegalStateException(
          "q_stream_exec raw baseline: stream did not finish within 120 s")
      }
      s.table("graft_bench_raw_stream")
        .select(col("window_start").cast("long").as("window_start"),
          col("window_end").cast("long").as("window_end"),
          col("event_type"), col("n_events"),
          round(col("sum_value"), 6).as("sum_value"))
    }),

    "q_stream_decontaminate" -> ((s, d) => {
      // hand-written streaming decontamination: HOF 5-gram strings +
      // array_intersect against a literal eval-gram array — the
      // stateless filter a Spark engineer writes without the library's
      // bloom/sorted-set kernels, over the SAME real stream
      def gramsOf(c: Column): Column = {
        val toks = rawToks(rawNorm(c))
        array_distinct(filter(
          transform(sequence(lit(1), greatest(size(toks) - 4, lit(1))),
            i => concat_ws(" ", slice(toks, i, lit(5)))),
          g => length(g) > 0))
      }
      val docs = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val evalDf = docs.filter(col("doc_id") < 100)
      val evalGrams = evalDf.select(explode(gramsOf(col("text"))).as("g"))
        .distinct().collect().map(_.getString(0))
      val evalTexts = evalDf
        .select((col("doc_id") + 100L).as("doc_id"), col("text").as("etext"))
      val rawSchema = s.read.parquet(s"$d/documents.parquet").schema
      val planted = s.readStream.schema(rawSchema)
        .option("pathGlobFilter", "documents.parquet").parquet(d)
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
        .filter(col("doc_id") >= 100)
        .join(evalTexts, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("doc_id") < 110 && col("etext").isNotNull,
            concat(col("text"), lit(" "), col("etext")))
            .otherwise(col("text")).as("text"))
      val clean = planted.filter(
        size(array_intersect(gramsOf(col("text")),
          lit(evalGrams))) < 1)
      val q = clean.writeStream.format("memory")
        .queryName("graft_bench_raw_decon").outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      if (!q.awaitTermination(120000)) {
        q.stop()
        throw new IllegalStateException(
          "q_stream_decontaminate raw baseline: stream did not finish within 120 s")
      }
      s.table("graft_bench_raw_decon").select(col("doc_id"))
    }),

    "q_cluster_rep" -> ((s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
        .filter(col("doc_id") < 1000)
        .withColumn("doc_len", length(col("text")).cast("long"))
      val grams = docs
        .withColumn("norm", rawNorm(col("text")))
        .withColumn("gh", transform(array_distinct(filter(
          transform(sequence(lit(1), greatest(length(col("norm")) - 2, lit(1))),
            i => col("norm").substr(i, lit(3))),
          g => length(g) === 3)), g => xxhash64(g)))
        .select(col("doc_id").as("id"), col("gh"))
        .repartition(s.sparkContext.defaultParallelism)
      val pairs = grams.as("l").crossJoin(grams.as("r"))
        .filter(col("l.id") < col("r.id"))
        .withColumn("jaccard", rawJaccard(col("l.gh"), col("r.gh")))
        .filter(col("jaccard") >= 0.7)
        .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      val labels = rawComponents(docs.select(col("doc_id").as("id")), pairs)
      val w = Window.partitionBy("lbl").orderBy(col("doc_len").desc, col("doc_id"))
      docs.join(labels.select(col("id").as("doc_id"), col("lbl")), Seq("doc_id"), "left")
        .withColumn("lbl", coalesce(col("lbl"), col("doc_id")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("doc_len"))
    }),

    "q_decontaminate" -> ((s, d) => {
      val par = s.sparkContext.defaultParallelism
      val docs = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val evalDf = docs.filter(col("doc_id") < 100)
      val evalTexts = evalDf
        .select((col("doc_id") + 100L).as("doc_id"), col("text").as("etext"))
      val train = docs.filter(col("doc_id") >= 100)
        .join(evalTexts, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("doc_id") < 110 && col("etext").isNotNull,
            concat(col("text"), lit(" "), col("etext")))
            .otherwise(col("text")).as("text"))
        .repartition(par)
      def gramRows(df: DataFrame): DataFrame = df
        .withColumn("toks", rawToks(rawNorm(col("text"))))
        .select(col("doc_id"), explode(array_distinct(filter(
          transform(sequence(lit(1), greatest(size(col("toks")) - 4, lit(1))),
            i => concat_ws(" ", slice(col("toks"), i, lit(5)))),
          g => length(g) > 0))).as("g"))
      val evalGrams = gramRows(evalDf).select("g").distinct()
      val contaminated = gramRows(train)
        .join(broadcast(evalGrams), "g")
        .groupBy("doc_id").agg(count(lit(1)).as("hits"))
        .filter(col("hits") >= 1)
        .select("doc_id")
      train.join(contaminated, Seq("doc_id"), "left_anti").select(col("doc_id"))
    }),

    "q_dedup_lines" -> ((s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
        .withColumn("tk", split(col("text"), " "))
        .withColumn("nl",
          greatest(ceil(size(col("tk")) / 8.0).cast("int"), lit(1)))
        .withColumn("mtext", concat_ws("\n",
          transform(sequence(lit(0), col("nl") - 1),
            i => concat_ws(" ", slice(col("tk"), i * 8 + 1, lit(8))))))
        .select(col("doc_id"), col("mtext"))
      val w = Window.partitionBy("fp").orderBy(col("doc_id"), col("pos"))
      docs
        .select(col("doc_id"),
          posexplode(split(col("mtext"), "\n")).as(Seq("pos", "line")))
        .withColumn("fp", md5(col("line")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .groupBy(col("doc_id"))
        .agg(concat_ws("\n",
          transform(array_sort(collect_list(struct(col("pos"), col("line")))),
            x => x.getField("line"))).as("text"))
        .select(col("doc_id"), col("text"))
    }),

    "q_write_partitioned" -> ((s, d) => {
      val target = "/root/repo/target/bench_raw_part_tbl"
      val out = s.read.parquet(s"$d/lineitem.parquet")
        .select("l_orderkey", "l_quantity", "l_shipdate")
        .withColumn("part_key",
          date_format(date_trunc("month", col("l_shipdate")),
            "yyyy-MM-dd'T'HH:mm:ss"))
        .repartition(col("part_key"))
        .sortWithinPartitions(col("part_key"), col("l_orderkey"))
      out.write.mode("overwrite").partitionBy("part_key").parquet(target)
      s.read.parquet(target)
        .groupBy("part_key")
        .agg(count(lit(1)).as("n_rows"), round(sum("l_quantity"), 6).as("sum_qty"))
        .select(col("part_key").cast("string").as("part_key"),
          col("n_rows"), col("sum_qty"))
    }),

    "q_semantic_clusters" -> ((s, d) => {
      val emb = s.read.parquet(s"$d/embeddings.parquet")
        .select(col("vec_id").cast("long").as("vec_id"),
          col("embedding").cast("array<double>").as("v"))
      val aug = emb.filter(col("vec_id") < 20)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("v"), x => x + lit(0.01)).as("v"))
      val base = emb.unionByName(aug)
        .select(col("vec_id").as("id"), col("v"))
        .repartition(s.sparkContext.defaultParallelism)
      val pairs = base.as("l").crossJoin(base.as("r"))
        .filter(col("l.id") < col("r.id"))
        .withColumn("sim", rawCosine(col("l.v"), col("r.v")))
        .filter(col("sim") >= 0.95)
        .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      rawComponents(base.select("id"), pairs)
        .select(col("id").as("vec_id"), col("lbl").as("cluster_id"))
    }),

    "q_asof_join" -> ((s, d) => {
      // the naive hand-written as-of: range join every left row to ALL
      // earlier right rows of its key, keep the latest — the formulation
      // a user reaches for without an as-of operator. Intermediate
      // volume is O(left × matching right), vs the library's single
      // union+window pass.
      val ev0 = rawEvents(s, d)
      val hourly = ev0
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
        .select(col("event_type").as("r_type"),
          col("window.start").as("rts"),
          round(col("sum_value"), 6).as("hourly_sum"))
      val ev = ev0.select(col("event_id").cast("long").as("event_id"),
        col("event_type"), col("ts"))
      val w = Window.partitionBy("event_id")
        .orderBy(col("rts").desc_nulls_last)
      ev.join(hourly,
          col("event_type") === col("r_type") && col("rts") <= col("ts"), "left")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("event_id"), col("event_type"), col("hourly_sum"))
    }),

    "q_asof_forward" -> ((s, d) => {
      // naive hand-written forward as-of: range join every left row to
      // ALL later right rows of its key, keep the earliest — mirrors
      // the q_asof_join baseline in the opposite direction. The
      // library's single union + reversed-sort running-frame pass
      // avoids both the O(left × matching-right) intermediate and the
      // per-event second shuffle here.
      val ev0 = rawEvents(s, d)
      val hourly = ev0
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
        .select(col("event_type").as("r_type"),
          col("window.start").as("rts"),
          round(col("sum_value"), 6).as("hourly_sum"))
      val ev = ev0.select(col("event_id").cast("long").as("event_id"),
        col("event_type"), col("ts"))
      val w = Window.partitionBy("event_id")
        .orderBy(col("rts").asc_nulls_last)
      ev.join(hourly,
          col("event_type") === col("r_type") && col("rts") >= col("ts"), "left")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("event_id"), col("event_type"), col("hourly_sum"))
    }),

    "q_script_profile" -> ((s, d) => {
      // the formulation without the one-pass kernel: one full
      // `[^\p{IsXxx}]` regex strip per script class (9 scans/row),
      // staged exactly like the wrapper so the CaseWhen argmax costs
      // nothing extra — the ratio isolates what ScriptCountsExpr buys.
      val docs = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val body = regexp_replace(coalesce(col("text"), lit("")), "\\s+", "")
      val n = length(body)
      val classes = graft.text.TextFunctions.scriptClasses
      val staged = docs.select(
        col("doc_id") +: n.cast("long").as("n_chars") +:
          classes.map { case (name, cls) =>
            when(n === 0, 0.0)
              .otherwise(round(
                length(regexp_replace(body, s"[^$cls]", "")).cast("double") /
                  n, 6))
              .as(s"${name}_frac")
          }: _*)
      val best = greatest(classes.map { case (name, _) =>
        col(s"${name}_frac") }: _*)
      val firstBest = classes.tail.foldLeft(
        when(col(s"${classes.head._1}_frac") === best,
          lit(classes.head._1))) { case (acc, (name, _)) =>
        acc.when(col(s"${name}_frac") === best, lit(name))
      }
      staged.withColumn("dominant_script",
        when(col("n_chars") === 0, "none")
          .when(best === 0.0, "other")
          .otherwise(firstBest))
    }),

    "q_salted_join" -> ((s, d) => {
      // plain un-salted join producing the same rows. The right side is
      // broadcastable and un-hinted, so the wrapped operator's
      // broadcast short-circuit (r8) picks this very plan — the ratio
      // verifies that calling saltedJoin on non-skew data costs ~nothing
      val li = s.read.parquet(s"$d/lineitem.parquet")
        .select(col("l_orderkey").cast("long").as("l_orderkey"),
          col("l_linenumber").cast("long").as("l_linenumber"), col("l_quantity"))
      val ord = s.read.parquet(s"$d/orders.parquet")
        .select(col("o_orderkey").cast("long").as("l_orderkey"), col("o_totalprice"))
      li.join(ord, Seq("l_orderkey"))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("o_totalprice"))
    }),

    "q_salted_join_skew" -> ((s, d) => {
      // the PLAIN shuffle join on the same 90%-hot-key corpus the
      // wrapped query salts: the hot key's 5.4M rows land in ONE merge
      // partition whose sort runs on one core, so the ratio measures
      // what salting is FOR — wrapped is expected BELOW raw (measured
      // ~0.65-0.75 warm, r8). AQE's skew-split does NOT rescue this
      // plan at sf0.1: the hot partition (~86 MB) is under the 256 MB
      // skewedPartitionThresholdInBytes default (verified r8 — timing
      // unchanged with skewJoin.enabled=false). Both sides pin the
      // merge path to model a right side too big to broadcast.
      val li = s.read.parquet(s"$d/lineitem.parquet")
        .select(col("l_orderkey").cast("long").as("ok"), col("l_quantity"))
        .withColumn("rep", explode(sequence(lit(0), lit(9))))
        .withColumn("k",
          when(pmod(col("ok"), lit(100)) < 90, lit(1L)).otherwise(col("ok")))
        .select("k", "l_quantity")
      val ord = s.read.parquet(s"$d/orders.parquet")
        .select(col("o_orderkey").cast("long").as("k"), col("o_totalprice"))
      li.join(ord.hint("merge"), Seq("k"))
        .groupBy((col("k") % 100).as("k_bucket"))
        .agg(count(lit(1)).as("n_rows"), sum("l_quantity").as("sum_qty"))
    }),

    "q_ivf_pq_topk" -> ((s, d) => {
      // same hand-written deliverable as q_pq_topk (exact brute-force
      // scan): the wrapped side adds IVF routing ON TOP of PQ codes,
      // so the ratio verifies the composed path stays at-or-under the
      // exact scan even at toy scale where routing can't win
      Bench.baselines("q_pq_topk")(s, d)
    }),

    "q_ann_persist" -> ((s, d) => {
      // the route a user without AnnIndex takes to "persist the index,
      // serve from the loaded copy, prove the round-trip": their index
      // IS the vector table — write it to parquet, read it back, run
      // the same exact search from both copies, verify stored ≡
      // original and served ≡ fresh. Same deliverable shape as the
      // wrapped IVF-PQ artifact round-trip (write + readback + two
      // searches + identity checks), same invariant row — so a future
      // IO-path jump in the wrapped side (r17's 2.8 → 11.6 s suite
      // noise) shows up as a ratio, not a wall-clock shrug.
      val emb = s.read.parquet(s"$d/embeddings.parquet")
        .select(col("vec_id").cast("long").as("vec_id"),
          col("embedding").cast("array<double>").as("v"))
      val queries = emb.filter(col("vec_id") < 10)
        .select((col("vec_id") + 1000000L).as("query_id"),
          transform(col("v"), x => x + lit(0.001)).as("q_vec"))
      val root = java.nio.file.Files
        .createTempDirectory("graft_raw_ann_persist").toString
      emb.write.mode("overwrite").parquet(s"$root/index")
      val loadedEmb = s.read.parquet(s"$root/index")
      def search(corpus: DataFrame) = {
        val scored = corpus
          .select(col("vec_id").as("corpus_id"), col("v").as("c_vec"))
          .crossJoin(broadcast(queries))
          .filter(col("query_id") =!= col("corpus_id"))
          .withColumn("score", rawCosine(col("q_vec"), col("c_vec")))
        val w = Window.partitionBy("query_id")
          .orderBy(col("score").desc, col("corpus_id"))
        scored.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
          .select(col("query_id"), col("corpus_id"),
            round(col("score"), 6).as("score"), col("rank"))
      }
      val fresh = search(emb)
      val served = search(loadedEmb)
      val diffs = served.except(fresh).count() + fresh.except(served).count()
      val roundtrip = loadedEmb.except(emb).count() +
        emb.except(loadedEmb).count() == 0
      served.agg(
        count(lit(1)).as("n_rows"),
        lit(diffs == 0L).as("results_identical"),
        lit(roundtrip).as("centers_roundtrip"),
        lit(roundtrip).as("codebooks_roundtrip"))
    }),

    "q_ann_index_scan" -> ((s, d) => {
      // the raw route to "persist a cell-partitioned corpus, serve
      // reading only the probed cells": hash-bucket the vectors into
      // 16 cells, write partitioned by cell, serve with a static
      // cell IN (...) filter — the scan must partition-prune — and
      // verify served ≡ the same search over the in-memory frame.
      // Same deliverable shape as the wrapped encoded-corpus path
      // (build + partitioned persist + pruned serve + identity check).
      val emb = s.read.parquet(s"$d/embeddings.parquet")
        .select(col("vec_id").cast("long").as("vec_id"),
          col("embedding").cast("array<double>").as("v"))
        .withColumn("cell", pmod(col("vec_id"), lit(16)).cast("int"))
      val queries = emb.filter(col("vec_id") < 10)
        .select((col("vec_id") + 1000000L).as("query_id"),
          transform(col("v"), x => x + lit(0.001)).as("q_vec"))
        .localCheckpoint(true) // fence: computed pre-write, reused post-read
      val root = java.nio.file.Files
        .createTempDirectory("graft_raw_ann_cells").toString
      emb.write.mode("overwrite").partitionBy("cell").parquet(root)
      val onDisk = s.read.parquet(root)
      val probed = Seq(0, 1, 2, 3)
      def search(corpus: DataFrame) = {
        val scored = corpus.filter(col("cell").isin(probed: _*))
          .select(col("vec_id").as("corpus_id"), col("v").as("c_vec"))
          .crossJoin(broadcast(queries))
          .filter(col("query_id") =!= col("corpus_id"))
          .withColumn("score", rawCosine(col("q_vec"), col("c_vec")))
        val w = Window.partitionBy("query_id")
          .orderBy(col("score").desc, col("corpus_id"))
        scored.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
          .select(col("query_id"), col("corpus_id"),
            round(col("score"), 6).as("score"), col("rank"))
      }
      val served = search(onDisk)
      val fresh = search(emb)
      val pf = served.queryExecution.executedPlan.toString
        .linesIterator.find(_.contains("PartitionFilters:")).getOrElse("")
      val pruned = pf.contains("cell#") &&
        (pf.contains(" IN ") || pf.contains("INSET"))
      val diffs = served.except(fresh).count() + fresh.except(served).count()
      served.agg(
        count(lit(1)).as("n_rows"),
        lit(diffs == 0L).as("results_identical"),
        lit(pruned).as("scan_pruned"))
    }),

    "q_pq_topk" -> ((s, d) => {
      // the route a user without PQ takes to the same deliverable:
      // exact brute-force cosine over the full-width vectors (the scan
      // PQ exists to shrink 32×), then the identical invariant tail.
      // At sf0.1 both sides are sub-second — the ratio verifies the
      // wrapped path (train + encode + ADC) costs no more than the
      // exact scan it replaces even at toy scale; the design win is
      // the 8 B/row scan at real scale.
      val emb = s.read.parquet(s"$d/embeddings.parquet")
        .select(col("vec_id").cast("long").as("vec_id"),
          col("embedding").cast("array<double>").as("v"))
      val q = emb.filter(col("vec_id") < 10)
        .select((col("vec_id") + 1000000L).as("query_id"),
          transform(col("v"), x => x + lit(0.001)).as("q_vec"))
      val scored = emb
        .select(col("vec_id").as("corpus_id"), col("v").as("c_vec"))
        .crossJoin(broadcast(q))
        .filter(col("query_id") =!= col("corpus_id"))
        .withColumn("score", rawCosine(col("q_vec"), col("c_vec")))
      val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("corpus_id"))
      val top = scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
      val wr = Window.partitionBy("query_id").orderBy("rank")
      top.withColumn("next_score", lead(col("score"), 1).over(wr))
        .agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col("query_id"), col("rank")).as("n_qr"),
          (sum(when(col("rank") === 1 &&
              col("corpus_id") === col("query_id") - 1000000L, 1L)
            .otherwise(0L)) >= 9L).as("planted_ok"),
          (sum(when(col("next_score").isNotNull &&
              col("next_score") > col("score") + 1e-9, 1L)
            .otherwise(0L)) === 0L).as("order_ok"))
    }),

    "q_ivf_topk" -> ((s, d) => {
      // the hand-written route to the same exact result set (full-probe
      // IVF == exact top-k): broadcast queries, score all, window top-k
      val emb = s.read.parquet(s"$d/embeddings.parquet")
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))
      val scored = emb
        .select(col("vec_id").as("corpus_id"), col("embedding").as("c_vec"))
        .crossJoin(broadcast(q))
        .filter(col("query_id") =!= col("corpus_id"))
        .withColumn("sim", rawCosine(col("q_vec"), col("c_vec")))
      val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("corpus_id"))
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("query_id").cast("long").as("query_id"),
          col("corpus_id").cast("long").as("corpus_id"),
          round(col("sim"), 6).as("sim"), col("rank").cast("long").as("rank"))
    }),

    "q_cosine_topk_scalable" -> ((s, d) => {
      // the hand-written top-k a user reaches for without the bounded
      // partial-aggregate: broadcast the queries, score the whole
      // corpus, rank with a window — the window's shuffle carries every
      // scored row, where the wrapped typed Aggregator's exchange
      // carries only k rows per task
      val emb = s.read.parquet(s"$d/embeddings.parquet")
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))
      val scored = emb
        .select(col("vec_id").as("corpus_id"), col("embedding").as("c_vec"))
        .crossJoin(broadcast(q))
        .filter(col("query_id") =!= col("corpus_id"))
        .withColumn("sim", rawCosine(col("q_vec"), col("c_vec")))
      val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("corpus_id"))
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("query_id").cast("long").as("query_id"),
          col("corpus_id").cast("long").as("corpus_id"),
          round(col("sim"), 6).as("sim"), col("rank").cast("long").as("rank"))
    }),

    "q_mmr_rerank" -> ((s, d) => {
      // what a user hand-writes for a bounded diversified re-rank:
      // window top-10 pool with the HOF cosine, candidate pairwise
      // cosines in one self-join, then the greedy MMR loop ON THE
      // DRIVER over the collected pool (6 queries × ≤10 candidates —
      // driver-trivial). The wrapped operator replays the SAME greedy
      // sequence fully distributed (~2·k driver-issued jobs per call);
      // its value is candidate tables that never fit a driver.
      import s.implicits._
      val emb = s.read.parquet(s"$d/embeddings.parquet")
      val q = emb.filter(col("vec_id") < 6)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("rel").desc, col("corpus_id"))
      val pool = emb
        .select(col("vec_id").as("corpus_id"), col("embedding").as("c_vec"))
        .crossJoin(broadcast(q))
        .filter(col("query_id") =!= col("corpus_id"))
        .withColumn("rel", rawCosine(col("q_vec"), col("c_vec")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .select(col("query_id").cast("long").as("query_id"),
          col("corpus_id").cast("long").as("corpus_id"),
          col("rel"), col("c_vec"))
        .localCheckpoint(true) // pool + pairwise both consume it
      val psim = pool.as("a").join(pool.as("b"),
          col("a.query_id") === col("b.query_id") &&
            col("a.corpus_id") < col("b.corpus_id"))
        .select(col("a.query_id"), col("a.corpus_id").as("lo"),
          col("b.corpus_id").as("hi"),
          rawCosine(col("a.c_vec"), col("b.c_vec")).as("psim"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getDouble(3))
        .toMap
      val cands = pool.select("query_id", "corpus_id", "rel").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      // Spark's round(double, 6): BigDecimal.valueOf (decimal text
      // form) + HALF_UP — scala.BigDecimal(Double) matches
      def r6(x: Double): Double =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val lambda = 0.7
      val picks = cands.groupBy(_._1).toSeq.flatMap { case (qid, cs) =>
        var remaining = cs.map(c => (c._2, c._3)).toSeq
        var selected = Vector.empty[(Long, Long, Long, Double)]
        for (step <- 1 to math.min(4, cs.length)) {
          val best = remaining.map { case (cid, rel) =>
            val score =
              if (selected.isEmpty) r6(lambda * rel)
              else {
                val ms = selected.map(sel => psim(
                  (qid, math.min(cid, sel._2), math.max(cid, sel._2)))).max
                r6(lambda * rel - (1.0 - lambda) * ms)
              }
            (cid, score)
          }.minBy { case (cid, sc) => (-sc, cid) } // score desc, id asc
          selected :+= ((qid, best._1, step.toLong, best._2))
          remaining = remaining.filterNot(_._1 == best._1)
        }
        selected
      }
      picks.toDF("query_id", "corpus_id", "rank", "mmr_score")
    }),

    "q_lsh_cosine" -> ((s, d) => {
      // what a user hand-writes for "every near-duplicate pair above a
      // threshold": score ALL pairs — quadratic in the corpus, where the
      // wrapped operator's banded LSH exchanges only ids per bucket.
      // The aggregated invariant profile is identical: both routes find
      // all 20 planted cos≈0.9999 pairs and emit ordered, distinct,
      // threshold-filtered pairs.
      val emb = s.read.parquet(s"$d/embeddings.parquet")
        .select(col("vec_id").cast("long").as("vec_id"),
          col("embedding").cast("array<double>").as("v"))
      val aug = emb.filter(col("vec_id") < 20)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("v"), x => x + lit(0.01)).as("v"))
      val base = emb.unionByName(aug)
        .repartition(s.sparkContext.defaultParallelism)
      val pairs = base.select(col("vec_id").as("id_a"), col("v").as("va"))
        .crossJoin(base.select(col("vec_id").as("id_b"), col("v").as("vb")))
        .filter(col("id_a") < col("id_b"))
        .withColumn("sim", rawCosine(col("va"), col("vb")))
        .filter(col("sim") >= 0.3)
      pairs.agg(
        sum(when(col("sim") < 0.3, 1L).otherwise(0L)).as("n_below_threshold"),
        sum(when(col("id_a") >= col("id_b"), 1L).otherwise(0L)).as("n_bad_order"),
        (count(lit(1)) - countDistinct(col("id_a"), col("id_b"))).as("n_dup_pairs"),
        sum(when(col("id_b") === col("id_a") + 1000000L && col("id_a") < 20, 1L)
          .otherwise(0L)).as("n_planted_found"))
    }),

    "q_runlog" -> ((s, d) => {
      // hand-rolled version of the same observable contract: create the
      // log + reserved-ids tables, reserve each id with a max-scan over
      // both, append two entries, read the newest id back. The cost is
      // catalog/table DDL + four tiny writes on both sides, so the
      // ratio measures the subsystem's bookkeeping tax.
      import s.implicits._
      val tbl = "graft_bench_runlog_raw"
      val res = s"${tbl}_reserved_ids"
      Seq(tbl, res).foreach { tname =>
        s.sql(s"DROP TABLE IF EXISTS $tname")
        val loc = new org.apache.hadoop.fs.Path(
          new org.apache.hadoop.fs.Path(s.conf.get("spark.sql.warehouse.dir")), tname)
        val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(loc)) fs.delete(loc, true)
      }
      s.sql(s"""CREATE TABLE $tbl (run_id INT, `desc` STRING, `user` STRING,
        `datetime` TIMESTAMP, pipeline_name STRING, pipeline_version STRING,
        config STRING) USING parquet""")
      s.sql(s"CREATE TABLE $res (run_id INT, reserved_at TIMESTAMP) USING parquet")
      def reserveAndAppend(descr: String): Unit = {
        val next = s.sql(
          s"""SELECT greatest(
            (SELECT coalesce(max(run_id), 0) FROM $tbl),
            (SELECT coalesce(max(run_id), 0) FROM $res)) + 1""")
          .collect()(0).getInt(0)
        s.sql(s"INSERT INTO $res VALUES ($next, current_timestamp())")
        s.sql(s"""INSERT INTO $tbl VALUES ($next, '$descr',
          'bench', current_timestamp(), 'verify-pipeline', '1.0', '{}')""")
      }
      reserveAndAppend("first")
      reserveAndAppend("second")
      val last = s.sql(s"SELECT run_id FROM $tbl ORDER BY `datetime` DESC, run_id DESC LIMIT 1")
        .collect()(0).getInt(0)
      Seq((last.toLong, s.table(tbl).count())).toDF("last_run_id", "n_entries")
    }),

    "q_pipeline_docs" -> ((s, d) => {
      // the same pipeline hand-written against public functions: quality
      // blend, keyword-vote language id, md5-fingerprint dedup. The
      // wrapped operators are themselves thin Column builders over these
      // functions, so the expected ratio is ~1.0 — the entry attests the
      // wrapper adds nothing across a multi-stage pipeline.
      val txt = col("text")
      val toks = when(length(trim(txt)) === 0, array().cast("array<string>"))
        .otherwise(split(trim(txt), "\\s+"))
      val nTok = size(toks).cast("double")
      val safeNTok = greatest(nTok, lit(1.0))
      val lenScore = least(length(txt).cast("double") / 500.0, lit(1.0))
      val punct = length(regexp_replace(txt, "[\\p{L}\\p{N}\\s]", "")).cast("double")
      val punctScore = lit(1.0) -
        least(punct / greatest(length(txt).cast("double"), lit(1.0)) * 4.0, lit(1.0))
      val stopArr = array(Seq("the", "a", "an", "and", "or", "of", "to",
        "in", "is", "it", "for", "on").map(lit): _*)
      val nStop = size(filter(toks, t => array_contains(stopArr, t))).cast("double")
      val stopScore = least(nStop / safeNTok * 4.0, lit(1.0))
      val meanTokLen = length(regexp_replace(txt, "\\s+", "")).cast("double") / safeNTok
      val tokLenScore = when(meanTokLen.between(3.0, 10.0), 1.0).otherwise(0.5)
      val quality = round((lenScore + punctScore + stopScore + tokLenScore) / 4.0, 6)
      val profiles = Seq(
        "db" -> Seq("table", "row", "column"),
        "en" -> Seq("the", "a", "of"),
        "ops" -> Seq("merge", "sort", "scan"))
      val langScores = profiles.map { case (lang, markers) =>
        val arr = array(markers.map(lit): _*)
        lang -> size(filter(toks, t => array_contains(arr, t)))
      }
      val lang = langScores.tail.foldLeft(
        (lit(langScores.head._1), langScores.head._2)) {
        case ((bestLang, bestScore), (l, score)) =>
          (when(score > bestScore, lit(l)).otherwise(bestLang),
            when(score > bestScore, score).otherwise(bestScore))
      }._1
      val w = Window.partitionBy("fp").orderBy(col("doc_id"))
      s.read.parquet(s"$d/documents.parquet")
        .withColumn("quality", quality)
        .withColumn("lang_guess", lang)
        .filter(col("quality") >= 0.5)
        .withColumn("fp", md5(lower(regexp_replace(trim(txt), "\\s+", " "))))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .groupBy("lang_guess")
        .agg(count(lit(1)).as("n_docs"),
          round(avg("quality"), 6).as("avg_quality"),
          sum(size(toks).cast("long")).as("total_tokens"))
    }),

    // hand-written TF-IDF: same tf → df → join-back shape any Spark
    // user would write; measures the relevance family's wrapper tax
    "q_tfidf" -> ((s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val n = docs.count().toDouble
      val tf = docs
        .select(col("doc_id"), explode(rawToks(rawNorm(col("text")))).as("word"))
        .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df_docs"))
      tf.join(dfreq, "word")
        .select(col("doc_id"), col("word"), col("tf"), col("df_docs"),
          round(col("tf") * log(lit(n) / col("df_docs")), 6).as("tfidf"))
    }),

    "q_bm25" -> ((s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val (k1, b) = (1.2, 0.75)
      val n = docs.count().toDouble
      val toks = docs.select(col("doc_id"), rawToks(rawNorm(col("text"))).as("toks"))
        .withColumn("dl", size(col("toks")).cast("double"))
      val avgdl = toks.agg(avg("dl")).head().getDouble(0)
      val terms = array(Seq("dup", "vector", "scan").map(lit): _*)
      val post = toks
        .select(col("doc_id"), col("dl"),
          explode(filter(col("toks"), t => array_contains(terms, t))).as("word"))
        .groupBy("doc_id", "dl", "word").agg(count(lit(1)).cast("double").as("tf"))
      val dfreq = post.groupBy("word").agg(count(lit(1)).cast("double").as("dfd"))
      val idf = log(lit(1.0) + (lit(n) - col("dfd") + 0.5) / (col("dfd") + 0.5))
      val norm = col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / lit(avgdl))
      post.join(dfreq, "word")
        .groupBy("doc_id")
        .agg(round(sum(idf * col("tf") * lit(k1 + 1.0) / norm), 6).as("score"))
        .orderBy(col("score").desc, col("doc_id")).limit(20)
    }),

    "q_inverted_index" -> ((s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val n = docs.count()
      val maxDf = math.floor(n * 0.79).toLong
      docs.select(col("doc_id"), explode(rawToks(rawNorm(col("text")))).as("word"))
        .distinct()
        .groupBy("word")
        .agg(sort_array(collect_list(col("doc_id"))).as("postings"))
        .withColumn("df_docs", size(col("postings")).cast("long"))
        .filter(col("df_docs") >= 30L && col("df_docs") <= maxDf)
        .select(col("word"), col("df_docs"),
          md5(concat_ws(",", transform(col("postings"), x => x.cast("string"))))
            .as("postings_md5"))
    }),

    "q_bigram_pmi" -> ((s, d) => {
      val toks = s.read.parquet(s"$d/documents.parquet")
        .select(rawToks(rawNorm(col("text"))).as("toks"))
      val bigrams = toks.select(explode(
        when(size(col("toks")) < 2, array().cast("array<string>"))
          .otherwise(transform(sequence(lit(1), size(col("toks")) - 1),
            i => concat(element_at(col("toks"), i), lit(" "),
              element_at(col("toks"), i + 1))))).as("bigram"))
      val uni = toks.select(explode(col("toks")).as("word"))
        .groupBy("word").agg(count(lit(1)).cast("double").as("c"))
      val totalUni = uni.agg(sum("c")).head().getDouble(0)
      val totalBig = math.max(bigrams.count(), 1L).toDouble
      val big = bigrams.groupBy("bigram").agg(count(lit(1)).as("n"))
        .filter(col("n") >= 20L)
        .withColumn("w1", split(col("bigram"), " ").getItem(0))
        .withColumn("w2", split(col("bigram"), " ").getItem(1))
      big
        .join(uni.withColumnRenamed("word", "w1").withColumnRenamed("c", "c1"), "w1")
        .join(uni.withColumnRenamed("word", "w2").withColumnRenamed("c", "c2"), "w2")
        .select(col("w1"), col("w2"), col("n"),
          round(log((col("n") / lit(totalBig)) /
            ((col("c1") / lit(totalUni)) * (col("c2") / lit(totalUni)))), 6).as("pmi"))
    }),

    "q_chunk" -> ((s, d) => {
      val (chunkTokens, stride, overlap) = (16, 12, 4)
      s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id").cast("long").as("doc_id"),
          rawToks(rawNorm(col("text"))).as("toks"))
        .filter(size(col("toks")) > 0)
        .select(col("doc_id"),
          posexplode(transform(
            sequence(lit(1), greatest(size(col("toks")) - lit(overlap), lit(1)), lit(stride)),
            st => slice(col("toks"), st, lit(chunkTokens)))))
        .select(col("doc_id"), col("pos").cast("long").as("chunk_id"),
          size(col("col")).cast("long").as("n_tokens"),
          concat_ws(" ", col("col")).as("chunk_text"))
    }),

    "q_fuzzy_join" -> ((s, d) => {
      val a = s.read.parquet(s"$d/part.parquet")
        .select(col("p_name").as("name_a")).distinct()
      val b = s.read.parquet(s"$d/part.parquet")
        .select(col("p_name").as("name_b")).distinct()
      a.join(b,
          substring(a("name_a"), 1, 1) === substring(b("name_b"), 1, 1) &&
            abs(length(a("name_a")) - length(b("name_b"))) <= 3 &&
            levenshtein(a("name_a"), b("name_b")) <= 3)
        .withColumn("distance", levenshtein(col("name_a"), col("name_b")).cast("long"))
        .filter(col("name_a") < col("name_b"))
    }),

    "q_scd2" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      s.read.parquet(s"$d/orders.parquet")
        .select(col("o_custkey").cast("long").as("o_custkey"), col("o_orderdate"),
          col("o_orderkey").cast("long").as("o_orderkey"), col("o_orderstatus"))
        .withColumn("prev", lag("o_orderstatus", 1).over(w))
        .filter(col("prev").isNull || !(col("prev") <=> col("o_orderstatus")))
        .withColumn("valid_from", col("o_orderdate"))
        .withColumn("valid_to", lead(col("o_orderdate"), 1).over(w))
        .withColumn("is_current", col("valid_to").isNull)
        .select("o_custkey", "o_orderstatus", "valid_from", "valid_to", "is_current")
    }),

    "q_rolling" -> ((s, d) => {
      val e = rawEvents(s, d).withColumn("event_id", col("event_id").cast("long"))
        .withColumn("epoch_s", unix_timestamp(col("ts")))
      val w = Window.partitionBy("event_type").orderBy("epoch_s")
        .rangeBetween(-3600L, 0)
      e.withColumn("n_win", count(lit(1)).over(w))
        .withColumn("sum_win", round(sum(col("value").cast("double")).over(w), 6))
        .select("event_type", "event_id", "epoch_s", "n_win", "sum_win")
    }),

    "q_gap_fill" -> ((s, d) => {
      val iv = 3600L
      val bucket = (floor(unix_timestamp(col("ts")) / iv) * iv).cast("long")
      val buckets = rawEvents(s, d)
        .select(col("event_type"), bucket.as("bucket_start"),
          col("value").cast("double").as("v"))
        .groupBy("event_type", "bucket_start")
        .agg(count(lit(1)).as("n_events"), round(sum("v"), 6).as("sum_value"))
      val spine = buckets.groupBy("event_type")
        .agg(min("bucket_start").as("lo"), max("bucket_start").as("hi"))
        .select(col("event_type"),
          explode(sequence(col("lo"), col("hi"), lit(iv))).as("bucket_start"))
      val w = Window.partitionBy("event_type").orderBy("bucket_start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(buckets, Seq("event_type", "bucket_start"), "left")
        .select(col("event_type"), col("bucket_start"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          coalesce(col("sum_value"), lit(0.0)).as("sum_value"),
          last("sum_value", ignoreNulls = true).over(w).as("ffill_value"))
    }),

    "q_topk_group" -> ((s, d) => {
      // the bare rank window every Spark user writes first: the whole
      // table shuffles into one task per priority and sorts there. At
      // sf0.1 the 5 groups still fit a core; the structural gap is the
      // SCALE.md topk_group row (2.9× at 8×, one 90% group)
      val o = s.read.parquet(s"$d/orders.parquet")
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderpriority"), col("o_totalprice"))
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      o.withColumn("rnk", row_number().over(w).cast("int"))
        .filter(col("rnk") <= 5)
    }),

    "q_pivot_wide" -> ((s, d) => {
      // Spark's own .pivot with explicit values — the PivotFirst plan
      // that aggregates twice (shuffle cut measured in SCALE.md
      // pivot_agg); same rounding tail as the wrapped query
      val li = s.read.parquet(s"$d/lineitem.parquet")
        .select(col("l_returnflag"), col("l_linestatus"), col("l_quantity"))
      li.groupBy("l_returnflag").pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(col("l_quantity")))
        .select(col("l_returnflag"), round(col("F"), 2).as("qty_f"),
          round(col("O"), 2).as("qty_o"))
    }),

    "q_corr_matrix" -> ((s, d) => {
      // one aggregation JOB per pair — the loop a user writes from the
      // corr() doc; six scans of the table instead of one
      val li = s.read.parquet(s"$d/lineitem.parquet")
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val pairs = for {
        i <- cols.indices; j <- (i + 1) until cols.size
      } yield (cols(i), cols(j))
      pairs.map { case (a, b) =>
        li.agg(round(corr(col(a).cast("double"), col(b).cast("double")), 6)
          .as("corr"))
          .select(lit(a).as("col_a"), lit(b).as("col_b"), col("corr"))
      }.reduce(_ unionByName _)
    }),

    // Encode raws are the EQUIVALENT hand-written grouped-agg +
    // broadcast-join plans (what a Spark engineer would write), so the
    // wrapped/raw ratio measures wrapper tax like every other pair in
    // the suite. The window anti-pattern formulation lives in SCALE.md
    // (encode_path row) as the scale evidence it is — at sf0.1's five
    // categories on local[32] it happens to be the faster local plan,
    // which made the old ratios read design-for-scale cost, not tax.
    "q_freq_encode" -> ((s, d) => {
      val o = s.read.parquet(s"$d/orders.parquet")
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderpriority"))
      val counts = o.groupBy(col("o_orderpriority").as("cat"))
        .agg(count(lit(1)).as("n"))
      o.join(broadcast(counts), o("o_orderpriority") <=> counts("cat"), "left")
        .select(o("o_orderkey"), o("o_orderpriority"),
          col("n").as("o_orderpriority_freq"))
    }),

    "q_target_encode" -> ((s, d) => {
      val o = s.read.parquet(s"$d/orders.parquet")
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderpriority"), col("o_totalprice"))
      val t = col("o_totalprice").cast("double")
      val g = o.agg(avg(t).as("gmean"))
      val stats = o.groupBy(col("o_orderpriority").as("cat"))
        .agg(sum(t).as("tsum"), count(t).as("tcnt"))
      o.crossJoin(broadcast(g))
        .join(broadcast(stats), o("o_orderpriority") <=> stats("cat"), "left")
        .select(o("o_orderkey"), o("o_orderpriority"), o("o_totalprice"),
          round((coalesce(col("tsum"), lit(0.0)) + lit(20.0) * col("gmean")) /
            (coalesce(col("tcnt"), lit(0L)) + lit(20.0)), 6)
            .as("o_orderpriority_enc"))
    }),

    "q_substring_dedup" -> ((s, d) => {
      // equivalent hand-written span dedup (exact string keys): window
      // agg -> dup minima -> removal position sets -> in-place filter
      val k = 8
      val toks = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id").cast("long").as("doc_id"),
          rawToks(rawNorm(col("text"))).as("tk"))
        .filter(size(col("tk")) > 0)
      val wins = toks.filter(size(col("tk")) >= k)
        .select(col("doc_id"), posexplode(transform(
          sequence(lit(1), size(col("tk")) - lit(k - 1)),
          st => concat_ws(" ", slice(col("tk"), st, lit(k)))))
          .as(Seq("s0", "w")))
        .select(col("doc_id"), (col("s0") + 1).as("st"), col("w"))
      val dup = wins.groupBy("w")
        .agg(count(lit(1)).as("n"), min(struct(col("doc_id"), col("st"))).as("f"))
        .filter(col("n") > 1)
        .select(col("w"), col("f.doc_id").as("fd"), col("f.st").as("fs"))
      val rm = wins.join(dup, "w")
        .filter(!(col("doc_id") === col("fd") && col("st") === col("fs")))
        .select(col("doc_id").as("rid"),
          explode(sequence(col("st"), col("st") + lit(k - 1))).as("p"))
        .groupBy("rid").agg(collect_set("p").as("rm"))
      toks.join(rm, col("doc_id") === col("rid"), "left")
        .select(col("doc_id"),
          concat_ws(" ", when(col("rm").isNull, col("tk"))
            .otherwise(filter(col("tk"),
              (_, i) => !array_contains(col("rm"), i + 1)))).as("text_deduped"),
          size(col("tk")).cast("long").as("n_tokens"),
          coalesce(size(col("rm")), lit(0)).cast("long").as("n_removed"))
    }),

    "q_bigram_perplexity" -> ((s, d) => {
      // raw form: ordered bigrams via posexplode + lag WINDOW (the
      // plan a user writes first) — one per-token shuffle on doc_id
      // that the wrapped operator's narrow zip_with avoids entirely
      val docs = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val toks = docs
        .select(col("doc_id"), posexplode(rawToks(rawNorm(col("text"))))
          .as(Seq("i", "w")))
      val w = Window.partitionBy("doc_id").orderBy("i")
      val prs = toks
        .withColumn("prev", lag(col("w"), 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("doc_id"), col("prev"), col("w"))
      val uni = docs.select(explode(rawToks(rawNorm(col("text")))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
      val stats = uni.agg(sum("c").as("__N"), count(lit(1)).as("__V"))
      val cb = prs.groupBy("prev", "w").agg(count(lit(1)).as("cbw"))
      val cp = cb.groupBy("prev").agg(sum("cbw").as("cpre"))
      val ev = prs.groupBy("doc_id", "prev", "w").agg(count(lit(1)).as("nd"))
      val scored = ev
        .join(cb, Seq("prev", "w")).join(cp, Seq("prev")).join(uni, Seq("w"))
        .crossJoin(broadcast(stats))
        .withColumn("__lp", log(
          lit(0.7) * (col("cbw").cast("double") / col("cpre").cast("double")) +
            lit(1.0 - 0.7) *
              ((col("c") + lit(1.0)) / (col("__N") + lit(1.0) * col("__V")))))
        .groupBy("doc_id")
        .agg(sum("nd").as("n_bigrams"),
          round(exp(-sum(col("nd") * col("__lp")) / sum(col("nd"))), 6)
            .as("bigram_perplexity"))
      docs.select(col("doc_id")).distinct()
        .join(scored, Seq("doc_id"), "left")
    }),

    "q_keyword_tag" -> ((s, d) => {
      // raw form: per-pattern HOF contains rescan (the plan a user
      // writes without the automaton) — identical output; the automaton
      // vs P-linear-rescan gap is measured in SCALE.md keyword_scan
      val pats = SparkEntry.keywordPatterns.distinct.sorted
      val arr = array(pats.map(lit): _*)
      s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id").cast("long").as("doc_id"),
          array_sort(filter(arr, x => contains(lower(col("text")), x)))
            .as("m"))
        .where(size(col("m")) > 0)
        .select(col("doc_id"), array_join(col("m"), "|").as("matched"))
    }),

    "q_hybrid_search" -> ((s, d) => {
      // equivalent hand-written two-retriever fusion: BM25 top-20 (the
      // q_bm25 raw plan) + HOF-cosine top-20 of vec 0, RRF-combined
      val docs = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val (k1, b) = (1.2, 0.75)
      val n = docs.count().toDouble
      val toks = docs.select(col("doc_id"), rawToks(rawNorm(col("text"))).as("toks"))
        .withColumn("dl", size(col("toks")).cast("double"))
      val avgdl = toks.agg(avg("dl")).head().getDouble(0)
      val terms = array(Seq("dup", "vector", "scan").map(lit): _*)
      val post = toks
        .select(col("doc_id"), col("dl"),
          explode(filter(col("toks"), t => array_contains(terms, t))).as("word"))
        .groupBy("doc_id", "dl", "word").agg(count(lit(1)).cast("double").as("tf"))
      val dfreq = post.groupBy("word").agg(count(lit(1)).cast("double").as("dfd"))
      val idf = log(lit(1.0) + (lit(n) - col("dfd") + 0.5) / (col("dfd") + 0.5))
      val nrm = col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / lit(avgdl))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("score").desc, col("doc_id"))
      val lex = post.join(dfreq, "word")
        .groupBy("doc_id")
        .agg(round(sum(idf * col("tf") * lit(k1 + 1.0) / nrm), 6).as("score"))
        .orderBy(col("score").desc, col("doc_id")).limit(20)
        .withColumn("rnk", row_number().over(w))
      val emb = s.read.parquet(s"$d/embeddings.parquet")
        .select(col("vec_id").cast("long").as("doc_id"),
          col("embedding").cast("array<double>").as("v"))
      val qv = typedLit(emb.filter(col("doc_id") === 0)
        .head().getSeq[Double](1).toSeq)
      val sem = emb
        .select(col("doc_id"), round(rawCosine(col("v"), qv), 6).as("score"))
        .orderBy(col("score").desc, col("doc_id")).limit(20)
        .withColumn("rnk", row_number().over(w))
      lex.select(col("doc_id"), (lit(1.0) / (lit(60.0) + col("rnk"))).as("c"))
        .unionByName(sem.select(col("doc_id"),
          (lit(1.0) / (lit(60.0) + col("rnk"))).as("c")))
        .groupBy("doc_id").agg(round(sum(col("c")), 6).as("rrf_score"))
        .orderBy(col("rrf_score").desc, col("doc_id")).limit(10)
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("rrf_score").desc, col("doc_id"))).cast("int"))
    }),

    "q_contamination_report" -> ((s, d) => {
      // equivalent hand-written pair audit on the same planted frame:
      // distinct 5-gram strings per doc, broadcast eval side, pair agg
      val docs = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val evalDf = docs.filter(col("doc_id") < 100)
      val evalTexts = evalDf
        .select((col("doc_id") + 100L).as("doc_id"), col("text").as("etext"))
      val train = docs.filter(col("doc_id") >= 100)
        .join(evalTexts, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("doc_id") < 110 && col("etext").isNotNull,
            concat(col("text"), lit(" "), col("etext")))
            .otherwise(col("text")).as("text"))
        .repartition(s.sparkContext.defaultParallelism)
      def grams(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
        val tk = rawToks(rawNorm(col("text")))
        df.select(col("doc_id"),
          explode(array_distinct(
            when(size(tk) >= 5, transform(
              sequence(lit(1), size(tk) - lit(4)),
              st => concat_ws(" ", slice(tk, st, lit(5)))))
              .otherwise(array(concat_ws(" ", tk))))).as("g"))
      }
      grams(train)
        .join(broadcast(grams(evalDf).withColumnRenamed("doc_id", "eval_id")), "g")
        .groupBy("doc_id", "eval_id")
        .agg(count(lit(1)).as("n_shared_grams"))
        .filter(col("n_shared_grams") >= 1)
    }),
    "q_entropy" -> ((s, d) => {
      // hand-rolled entropy: explode per char / per token, per-doc
      // symbol counts, H = (ln n − Σ c·ln c / n)/ln 2 — two corpus
      // explodes + doc-grain shuffles vs the wrapper's ONE narrow
      // codegen'd kernel pass
      val docs = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      def entropyOf(df: DataFrame, symCol: Column, out: String): DataFrame =
        df.select(col("doc_id"), explode(symCol).as("s"))
          .groupBy("doc_id", "s").agg(count(lit(1)).cast("double").as("c"))
          .groupBy("doc_id")
          .agg((((log(sum("c")) * sum("c")) - sum(col("c") * log(col("c")))) /
            sum("c") / math.log(2.0)).as(out))
      val ch = entropyOf(docs, split(col("text"), ""), "ce")
      val tk = entropyOf(docs.filter(length(trim(col("text"))) > 0),
        split(trim(col("text")), "\\s+"), "te")
      docs.select("doc_id")
        .join(ch, Seq("doc_id"), "left")
        .join(tk, Seq("doc_id"), "left")
        .select(col("doc_id"),
          round(coalesce(col("ce"), lit(0.0)), 6).as("char_entropy"),
          round(coalesce(col("te"), lit(0.0)), 6).as("token_entropy"))
    }),
    "q_conv_profile" -> ((s, d) => {
      // hand-rolled profile: explode turns, window lag for the
      // alternation check, doc-grain re-aggregation — one explode +
      // shuffle vs the wrapper's single narrow HOF pass
      val conv = graft.text.Conversations.syntheticConversationTable(
        s.read.parquet(s"$d/documents.parquet"), "doc_id", "text")
      val flat = conv.select(col("conv_id"),
        posexplode(col("turns")).as(Seq("turn_idx", "t")))
        .select(col("conv_id"), col("turn_idx"),
          col("t.role").as("role"), col("t.content").as("content"))
      val w = Window.partitionBy("conv_id").orderBy("turn_idx")
      val agg = flat
        .withColumn("prev", lag(col("role"), 1).over(w))
        .groupBy("conv_id")
        .agg(count(lit(1)).as("n_turns"),
          sum(when(col("role") === "system", 1L).otherwise(0L)).as("n_system"),
          sum(when(col("role") === "user", 1L).otherwise(0L)).as("n_user"),
          sum(when(col("role") === "assistant", 1L).otherwise(0L)).as("n_assistant"),
          sum(when(length(trim(col("content"))) === 0, 0L)
            .otherwise(size(split(trim(col("content")), "\\s+")).cast("long")))
            .as("total_tokens"),
          max(when((col("turn_idx") > 0 && col("role") === "system") ||
            (col("prev").isNotNull && col("role") === col("prev")), 1L)
            .otherwise(0L)).as("viol"))
      conv.select("conv_id")
        .join(agg, Seq("conv_id"), "left")
        .select(col("conv_id"),
          coalesce(col("n_turns"), lit(0L)).as("n_turns"),
          coalesce(col("n_system"), lit(0L)).as("n_system"),
          coalesce(col("n_user"), lit(0L)).as("n_user"),
          coalesce(col("n_assistant"), lit(0L)).as("n_assistant"),
          coalesce(col("total_tokens"), lit(0L)).as("total_tokens"),
          (coalesce(col("viol"), lit(0L)) === 0L).as("alternates"))
    }),
    "q_semantic_decontaminate" -> ((s, d) => {
      // hand-rolled: broadcast cross join, interpreted HOF cosine, a
      // distinct at contaminated-id grain, then the anti join — no
      // per-row short-circuit, no codegen kernel
      val emb = s.read.parquet(s"$d/embeddings.parquet")
        .select(col("vec_id").cast("long").as("vec_id"),
          col("embedding").cast("array<double>").as("v"))
      val evalDf = emb.filter(col("vec_id") < 25)
        .select(transform(col("v"), x => x + lit(0.01)).as("ev"))
      def dot(a: Column, b: Column): Column =
        aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
      val hits = emb.crossJoin(broadcast(evalDf))
        .filter(dot(col("v"), col("ev")) /
          (sqrt(dot(col("v"), col("v"))) * sqrt(dot(col("ev"), col("ev")))) >= 0.9)
        .select("vec_id").distinct()
      emb.join(hits, Seq("vec_id"), "left_anti").select(col("vec_id"))
    }),
    "q_exact_quantile" -> ((s, d) => {
      // the naive formulation: ONE-partition global row_number sort —
      // correct, and the canonical scale-killer the partition-offset
      // wrapper exists to avoid
      import s.implicits._
      val vals = s.read.parquet(s"$d/lineitem.parquet")
        .select(col("l_extendedprice").cast("double").as("v"))
        .filter(col("v").isNotNull)
      val ranked = vals.withColumn("r",
        row_number().over(Window.orderBy("v")) - 1)
      val n = vals.agg(count(lit(1)).as("n"))
      Seq(0.1, 0.5, 0.9, 0.99).toDF("q")
        .crossJoin(broadcast(n))
        .withColumn("t", least(floor(col("q") * (col("n") - 1)), col("n") - 1)
          .cast("long"))
        .join(ranked, col("t") === col("r"))
        .select(col("q"), col("v").as("value"))
    }),

    "q_interval_join" -> ((s, d) => {
      // the naive formulation: bare overlap predicate, which Spark
      // plans as a broadcast nested loop — every left row probed
      // against EVERY right row; the binned wrapper replaces it with
      // one equi-join at bin grain
      val ev = s.read.parquet(s"$d/events.parquet")
        .select(col("event_id").cast("long").as("event_id"), col("value"))
      val left = ev.filter(col("event_id") % 40 === 0)
        .select(col("event_id").as("lid"), (col("value") * 7).as("ls"),
          (col("value") * 7 + 5 + (col("event_id") % 11).cast("double")).as("le"))
      val right = ev.filter(col("event_id") % 40 === 1)
        .select(col("event_id").as("rid"), (col("value") * 7).as("rs"),
          (col("value") * 7 + 5 + (col("event_id") % 13).cast("double")).as("re"))
      left.join(right, col("ls") <= col("re") && col("rs") <= col("le"))
        .select(col("lid"), col("rid"))
    }),

    "q_gopher_flags" -> ((s, d) => {
      // the plan a user writes rule-by-rule: every rule re-tokenizes
      // the text instead of sharing one token array — measures what
      // the shared-pass wrapper (and codegen CSE) buys
      def toks = when(length(trim(col("text"))) === 0,
        array().cast("array<string>")).otherwise(split(trim(col("text")), "\\s+"))
      def n = size(toks).cast("double")
      def safeN = greatest(n, lit(1.0))
      val lines = filter(split(col("text"), "\n"), l => length(trim(l)) > 0)
      val nLines = greatest(size(lines).cast("double"), lit(1.0))
      val wc = n.between(50.0, 100000.0)
      val ml = n > 0 && (aggregate(toks, lit(0L), (a, t) => a + length(t))
        .cast("double") / safeN).between(3.0, 10.0)
      val sym = ((length(col("text")) -
        length(regexp_replace(col("text"), lit("#"), lit("")))).cast("double") +
        size(regexp_extract_all(col("text"), lit("\\.\\.\\.|…"), lit(0)))
          .cast("double")) / safeN <= 0.1
      val al = n > 0 &&
        size(filter(toks, t => t.rlike("\\p{L}"))).cast("double") / safeN >= 0.8
      val bl = size(filter(lines, l => trim(l).rlike("^(•|\\*|-|–)\\s")))
        .cast("double") / nLines <= 0.9
      val el = size(filter(lines, l => trim(l).rlike("(\\.\\.\\.|…)$")))
        .cast("double") / nLines <= 0.3
      val st = size(array_intersect(array_distinct(toks), array(
        graft.text.QualityRules.gopherStopwords.map(lit): _*))) >= 1
      s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id").cast("long").as("doc_id"),
          coalesce(col("text"), lit("")).as("text"))
        .select(col("doc_id"), wc.as("r_word_count"), ml.as("r_mean_word_len"),
          sym.as("r_symbol_ratio"), al.as("r_alpha_words"),
          bl.as("r_bullet_lines"), el.as("r_ellipsis_lines"),
          st.as("r_stopwords"),
          (wc && ml && sym && al && bl && el && st).as("gopher_pass"))
    }),

    "q_bt_scores" -> ((s, d) => {
      // the naive MM loop: every iteration joins the scores back to
      // the FULL battle log (battle-grain exchange × iters) — the
      // wrapper collapses to model-pair grain once and iterates on
      // the tiny checkpointed frame
      val k = col("o_orderkey").cast("long")
      val battles = s.read.parquet(s"$d/orders.parquet")
        .filter(k % 5 =!= (k % 7) % 5)
        .select(concat(lit("m"), (k % 5).cast("string")).as("model_a"),
          concat(lit("m"), ((k % 7) % 5).cast("string")).as("model_b"),
          when(k % 3 === 0, "a").when(k % 3 === 1, "b").otherwise("tie")
            .as("winner"))
      val directed = battles.select(
          col("model_a").as("model"), col("model_b").as("opp"),
          when(col("winner") === "a", 1L).otherwise(0L).as("win"))
        .unionByName(battles.select(
          col("model_b").as("model"), col("model_a").as("opp"),
          when(col("winner") === "b", 1L).otherwise(0L).as("win")))
      val models = directed.groupBy("model")
        .agg(count(lit(1)).as("n_battles"), sum(col("win")).as("n_wins"))
      var scores = models.select(col("model"), lit(1.0).as("s"))
      for (_ <- 1 to 4) {
        val sOpp = scores.select(col("model").as("opp"), col("s").as("s_opp"))
        val updated = directed
          .join(scores, Seq("model")).join(sOpp, Seq("opp"))
          .groupBy("model")
          .agg(sum(lit(1.0) / (col("s") + col("s_opp"))).as("denom"))
          .join(models.select(col("model"), col("n_wins")), Seq("model"))
          .select(col("model"),
            (col("n_wins").cast("double") / col("denom")).as("s_raw"))
        val mean = updated.agg(avg(col("s_raw")).as("m"))
        scores = updated.crossJoin(broadcast(mean))
          .select(col("model"), (col("s_raw") / col("m")).as("s"))
      }
      models.join(scores, Seq("model"))
        .select(col("model"), col("n_battles"), col("n_wins"),
          round(col("s"), 6).as("bt_score"))
        .orderBy("model")
    }),
  )

  // ----- the measurement protocol -----
  //
  // Declared up front and the same for every query: `Runs` timed runs,
  // or — for a query with a raw baseline — `Runs` interleaved
  // wrapped/raw pairs, raw first on every odd pair. Only successful
  // runs count. Each side reports its min and median; the baseline
  // gate reads the ratio of the mins.

  private[graft] val Runs = 3

  /** Wrapped/raw ratio of the mins above which a pair fails the gate. */
  private[graft] val Gate = 2.0

  /** One timed run: drop cached relations and collect garbage so
    * earlier runs don't press on this one, then execute the PHYSICAL
    * plan and count its rows. `df.count()` would not do: Catalyst
    * rewrites it, and over a global-aggregate shape (or a union of
    * them) it returns the statically known row count without running
    * the aggregation. `toRdd` runs the planned tree verbatim. The frame
    * is built inside the timed window. Returns (seconds, rows). */
  private[graft] def timeRun(spark: SparkSession)(mk: => DataFrame): (Double, Long) = {
    spark.catalog.clearCache()
    System.gc()
    val t0 = System.nanoTime()
    val rows = mk.queryExecution.toRdd.count()
    ((System.nanoTime() - t0) / 1e9, rows)
  }

  /** Min and median seconds of one side's successful runs. */
  private[graft] final case class Side(min: Double, median: Double)

  /** Summarises one side's runs, where `None` is a failed run: it never
    * enters the min or the median. No successful run gives `None`. */
  private[graft] def side(runs: Seq[Option[Double]]): Option[Side] = {
    val ok = runs.flatten.sorted
    if (ok.isEmpty) None
    else Some(Side(ok.head, (ok((ok.size - 1) / 2) + ok(ok.size / 2)) / 2))
  }

  /** One query's result. `raw` is `None` for a query without a
    * baseline and `Some(None)` for a baseline that never succeeded. */
  private[graft] final case class Outcome(
      name: String, wrapped: Option[Side], raw: Option[Option[Side]] = None) {
    def ratio: Option[Double] =
      for (w <- wrapped; r <- raw.flatten) yield w.min / math.max(r.min, 1e-9)
  }

  /** Runs one query under the protocol. Each function performs one run
    * and returns its seconds, or `None` when the run failed. */
  private[graft] def measure(
      name: String,
      wrapped: () => Option[Double],
      raw: Option[() => Option[Double]]): Outcome = raw match {
    case None => Outcome(name, side(Seq.fill(Runs)(wrapped())))
    case Some(r) =>
      val pairs = (0 until Runs).map { i =>
        if (i % 2 == 0) { val w = wrapped(); (w, r()) }
        else { val b = r(); (wrapped(), b) }
      }
      Outcome(name, side(pairs.map(_._1)), Some(side(pairs.map(_._2))))
  }

  private def fmt(v: Double): String = {
    val s = java.math.BigDecimal.valueOf(v)
      .setScale(2, java.math.RoundingMode.HALF_UP)
      .stripTrailingZeros.toPlainString
    if (s == "-0") "0" else s
  }

  private def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

  private val Skipped = "\"SKIPPED\""

  private def header(outcomes: Seq[Outcome]): Seq[(String, String)] = Seq(
    "metric" -> "\"total\"",
    "value" -> fmt(outcomes.flatMap(_.wrapped).map(_.min).sum),
    "unit" -> "\"sec\"",
    "runs" -> Runs.toString,
    "n_queries" -> outcomes.size.toString)

  /** The complete per-query maps, for the log file (no length budget).
    * `meta` entries are appended as given (values already JSON). */
  private[graft] def renderFull(outcomes: Seq[Outcome], meta: Seq[(String, String)]): String = {
    val paired = outcomes.filter(_.raw.isDefined)
    obj(header(outcomes) ++ Seq(
      "queries" -> obj(outcomes.map(o => o.name -> o.wrapped.fold(Skipped)(s => fmt(s.min)))),
      "medians" -> obj(outcomes.flatMap(o => o.wrapped.map(s => o.name -> fmt(s.median)))),
      "baseline_ratios" -> obj(paired.map(o => o.name -> o.ratio.fold(Skipped)(fmt))),
      "raw" -> obj(paired.flatMap(o => o.raw.flatten.map(s =>
        o.name -> s"[${fmt(s.min)},${fmt(s.median)}]")))) ++ meta)
  }

  /** The stdout line. Its reader keeps only the tail of the process
    * output, so the line must stay within 1700 bytes or its opening
    * brace is cut and it no longer parses: it carries the slowest
    * queries (as many as fit, from 30 down), a ratio summary with the
    * five highest ratios, and the names of up to five skipped queries.
    * The complete maps go to the log file named in `meta`. */
  private[graft] def renderCompact(
      outcomes: Seq[Outcome], meta: Seq[(String, String)]): String = {
    val ratios = outcomes.flatMap(o => o.ratio.map(o.name -> _))
    val ratioSummary =
      if (ratios.isEmpty) """{"n":0}"""
      else {
        val rs = ratios.map(_._2).sorted
        obj(Seq(
          "n" -> rs.size.toString,
          "median" -> fmt(rs(rs.size / 2)),
          "over_gate" -> rs.count(_ > Gate).toString,
          "top" -> obj(ratios.sortBy(-_._2).take(5).map { case (n, r) => n -> fmt(r) })))
      }
    val skipped = outcomes.filter(o => o.wrapped.isEmpty || o.raw.contains(None)).map(_.name)
    val skippedJson =
      if (skipped.isEmpty) Nil
      else Seq("skipped" -> obj(Seq("n" -> skipped.size.toString,
        "names" -> skipped.take(5).map("\"" + _ + "\"").mkString("[", ",", "]"))))
    val head = header(outcomes) :+
      ("median_total" -> fmt(outcomes.flatMap(_.wrapped).map(_.median).sum))
    val timed = outcomes.flatMap(o => o.wrapped.map(s => o.name -> s.min)).sortBy(-_._2)
    def render(keep: Int): String = {
      val (kept, dropped) = timed.splitAt(keep)
      val omitted =
        if (dropped.isEmpty) Nil
        else Seq("omitted_fastest" -> obj(Seq(
          "n" -> dropped.size.toString, "sec" -> fmt(dropped.map(_._2).sum))))
      obj(head ++ Seq("queries" -> obj(kept.sortBy(_._1).map { case (n, s) => n -> fmt(s) })) ++
        omitted ++ skippedJson ++ Seq("ratio_summary" -> ratioSummary) ++ meta)
    }
    Iterator.range(30, -1, -5).map(render).find(_.length <= 1700).getOrElse(render(0))
  }

  /** Stages the corpus `k`× into `out` for a `SPARK_GRAFT_SCALE` run:
    * `documents.parquet` from [[Scale.scaledDocs]], every other table
    * copied byte-for-byte from `src`. `out` is cleared first and holds
    * no links, so a re-run against another source never serves an
    * earlier corpus's tables. */
  private[graft] def stageScaled(spark: SparkSession, src: String, k: Int, out: String): Unit = {
    val from = Paths.get(src)
    val to = Paths.get(out)
    if (Files.exists(to, LinkOption.NOFOLLOW_LINKS))
      Using.resource(Files.walk(to))(_.iterator.asScala.toList.reverse.foreach(Files.delete))
    Files.createDirectories(to)
    Scale.scaledDocs(spark, src, k)
      .repartition(spark.sparkContext.defaultParallelism)
      .write.parquet(to.resolve("documents.parquet").toString)
    val docs = from.resolve("documents.parquet")
    Using.resource(Files.walk(from, FileVisitOption.FOLLOW_LINKS)) { paths =>
      paths.iterator.asScala.drop(1).filterNot(_.startsWith(docs)).foreach { p =>
        val dst = to.resolve(from.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.copy(p, dst)
      }
    }
  }

  /** Times every declared query under the protocol above against
    * `$SPARK_GRAFT_SF_DIR` on `local[$SPARK_GRAFT_CPUS]` and prints one
    * JSON line. `SPARK_GRAFT_ONLY=q_a,q_b` restricts the run to the
    * named queries. `SPARK_GRAFT_SCALE=k` (k > 1) first stages the
    * corpus k× under `target/bench_scaled` and times against that. */
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val scale = sys.env.getOrElse("SPARK_GRAFT_SCALE", "1").toInt
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSet)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", "/root/repo/target/bench_warehouse")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // every [bench] line is mirrored to the log file, which also gets
    // the complete maps the budgeted stdout line leaves out
    val benchLog = new StringBuilder
    def note(msg: String): Unit = {
      System.err.println(msg)
      benchLog.append(msg).append('\n')
    }

    val sfName = Paths.get(sfDir).getFileName.toString
    val (dir, stageSec) =
      if (scale <= 1) (sfDir, 0.0)
      else {
        val out = s"target/bench_scaled/${sfName}_x$scale"
        val t0 = System.nanoTime()
        stageScaled(spark, sfDir, scale, out)
        (out, (System.nanoTime() - t0) / 1e9)
      }

    // untimed warm-up: exercise scan → shuffle → window → write codegen
    // paths once so the FIRST measured query doesn't absorb several
    // seconds of JIT/janino cold start the others never pay
    {
      val r = spark.read.parquet(s"$dir/region.parquet")
      r.groupBy("r_name").count().count()
      spark.range(100000).select(sum(col("id")).over(
        Window.partitionBy(col("id") % 7).orderBy("id")).as("s"))
        .agg(sum("s")).collect()
      ()
    }

    def show(s: Option[Side]): String =
      s.fold("SKIPPED")(x => f"${x.min}%6.2fs (median ${x.median}%.2fs)")
    val raws = baselines
    val outcomes = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, wrapped) =>
        var rows = -1L
        def run(label: String, mk: => DataFrame): () => Option[Double] = () =>
          try {
            val (secs, n) = timeRun(spark)(mk)
            if (label == "wrapped") rows = n
            Some(secs)
          } catch { case e: Throwable =>
            note(s"[bench] $name $label FAILED: ${e.getMessage}")
            None
          }
        val o = measure(name, run("wrapped", wrapped(spark, dir)),
          raws.get(name).map(raw => run("raw", raw(spark, dir))))
        note(f"[bench] $name%-26s ${show(o.wrapped)}  rows=$rows" + o.raw.fold("") { r =>
          s"  raw=${show(r)}  ratio=" +
            o.ratio.fold("SKIPPED")(x => f"$x%.2f" + (if (x > Gate) "  OVER GATE" else ""))
        })
        o
      }

    // subset and scaled runs log to BENCHLOG_only.txt, so they never
    // overwrite the full-suite evidence in BENCHLOG.txt
    val subset = only.isDefined || scale > 1
    val logPath = if (subset) "BENCHLOG_only.txt" else "BENCHLOG.txt"
    val meta = Seq("scale" -> scale.toString, "stage_sec" -> fmt(stageSec),
      "cpus" -> cpus, "sf" -> ("\"" + sfName + "\""))
    println(renderCompact(outcomes, ("full_maps" -> ("\"" + logPath + "\"")) +: meta))
    try Files.writeString(Paths.get(logPath),
      benchLog.toString + renderFull(outcomes, meta) + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] $logPath write failed: ${e.getMessage}") }
    // full runs commit the round artifacts through
    // scripts/commit_artifacts.sh (which commits only those paths);
    // SPARK_GRAFT_NO_COMMIT=1 disables it
    if (!subset && !sys.env.contains("SPARK_GRAFT_NO_COMMIT")) {
      try {
        val script = new java.io.File("scripts/commit_artifacts.sh")
        if (script.exists())
          new ProcessBuilder("sh", script.getPath).inheritIO().start().waitFor()
      } catch { case e: Throwable =>
        System.err.println(s"[bench] artifact commit skipped: ${e.getMessage}") }
    }
    spark.stop()
  }
}
