package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-run benchmark: one JSON line with per-query seconds.
  *
  * Besides the SparkEntry query suite, emits raw stat-file read
  * throughput metrics directly comparable to BASELINE.md: a 10M-row
  * tall/narrow .dta (mirrors the IPUMS full-read benchmark shape), the
  * same table as .sav, and a 50M-row .dta where decode time dominates
  * Spark's fixed ~0.3 s planning floor (BASELINE.md caveat). Files are
  * generated once into /tmp outside the timed section and re-used
  * across rounds.
  *
  * Timing protocol: every raw-read shape is executed once untimed
  * (warms codegen, page cache, and the scan-planning path), then timed
  * min-of-3; SparkEntry queries are warmed at sf0.001 and timed
  * min-of-2. All individual run times are emitted under "runs" so
  * ambient-load noise is visible in the record rather than silently
  * inflating the headline number.
  */
object Bench {

  /** Render a throwable as a JSON-string-safe error entry: strips every
    * character that would need escaping (quotes, backslashes, the whole
    * C0 control range — codec/native-lib messages can carry ANSI
    * escapes or NULs) so the one driver-parsed record line can never be
    * corrupted by exception text. Pure so BenchRecordSpec can pin it. */
  def sanitizeErr(t: Throwable): String =
    (t.getClass.getSimpleName + ": " + String.valueOf(t.getMessage))
      .replaceAll("[\\x00-\\x1f\"\\\\]", " ").take(160)

  /** Queries whose implementation the CURRENT optimization round touched:
    * packed into the one-line record right after the BASELINE-comparable
    * raw reads, so the driver's round-over-round comparison always sees
    * the queries under test (the r14 lesson: every actually-optimized
    * query fell outside the record's capture window while only untouched
    * raw reads were compared). Updated per optimization round. */
  private[graft] val touchedThisRound: Set[String] = Set(
    "text_decontaminate", "dedup_winnow_pairs", "q22_recursive_clusters",
    "spss_compress_roundtrip", "stata_compress_roundtrip",
    "sim_sparse_cosine", "dir_offset_slice", "stata_dropmalformed_dir",
    "dedup_ngram_jaccard", "dedup_containment", "dedup_clusters",
    "dedup_keep_best", "sample_leakage_split", "graph_pagerank",
    "dedup_lsh_recall")

  /** 2-decimal value for the one-line record: per-query mins are 0.05-7 s
    * with >10 ms run-to-run noise, so the third decimal carried no
    * information and cost ~170 chars of the line budget. Full 4-decimal
    * values stay in BENCH_LOCAL.json. */
  private def fmt2(v: Double): String = BigDecimal(v)
    .setScale(2, BigDecimal.RoundingMode.HALF_UP).toString

  /** Pack the driver-parsed one-line JSON record. Pure so
    * BenchRecordSpec can pin the packing behavior. `ordered` must
    * already be in keep-priority order; entries are kept until the
    * first one that does not fit, so the kept entries are always a
    * prefix of that order, and the rest are counted in "omitted". */
  private[graft] def packLine(total: Double, ordered: Seq[(String, Double)],
      fixedTail: String, budget: Int): String = {
    val head = s"""{"metric":"total","value":${fmt2(total)},"unit":"sec","queries":{"""
    val entries = ordered.map { case (k, v) => s"\"" + k + "\":" + fmt2(v) }
    var line = head
    var kept = 0
    var full = false
    while (!full && kept < entries.length) {
      val next = (if (kept == 0) "" else ",") + entries(kept)
      if (line.length + next.length + 1 + fixedTail.length + 16 <= budget) {
        line += next; kept += 1
      } else full = true
    }
    val omitted = entries.length - kept
    line + "}" + (if (omitted > 0) s""","omitted":$omitted""" else "") + fixedTail
  }

  private def ensureFile(df: DataFrame, path: String,
      options: Map[String, String] = Map.empty): Unit =
    if (!new java.io.File(path).exists())
      df.write.format("readstat").mode("overwrite").options(options).save(path)

  /** (dta10m, sav10m, dta50m, zsav10m, savWide, dtaLabeled10m, por2m,
    * dtaDated10m) — private[graft] so dev tools (GenBenchFiles, the r13
    * A/B harness) can materialize the exact bench inputs without
    * running the bench. */
  private[graft] def ensureBigFiles(spark: SparkSession, sfDir: String): Option[(String, String, String, String, String, String, String, String)] = {
    try {
      val tag = sfDir.replaceAll("[^a-zA-Z0-9]", "_")
      // v2: salted replication (see below) — new names force regeneration
      // over any round-6 unsalted files still cached in /tmp
      val dta = s"/tmp/graft_bench/${tag}_big_v2.dta"
      val sav = s"/tmp/graft_bench/${tag}_big_v2.sav"
      val dta50 = s"/tmp/graft_bench/${tag}_big50_v2.dta"
      val zsav = s"/tmp/graft_bench/${tag}_big_v2.zsav"
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"), col("l_returnflag"))
      val base = li.count()
      // single cross-join with a range: one plan node however many copies
      // (a unionAll fold is quadratic in planning and unusable at small
      // SF where copies runs to thousands); ceil so the file never holds
      // fewer rows than the metric name implies — actual counts are
      // emitted under "rows" in the bench JSON.
      // SALT: perturb three non-metric columns per (copy, row) so the
      // copies are not byte-identical — unsalted, zlib collapsed the
      // 10M-row zsav to 22.5 MB and zsav_fullread measured almost no
      // inflate work (round-6 verdict). l_quantity and l_returnflag are
      // untouched: the subset/filter metrics read them, so their
      // selectivity and decode cost stay comparable across rounds.
      def replicated(target: Long): DataFrame = {
        val copies = math.max(1L, (target + base - 1) / math.max(1L, base))
        val r = pmod(col("__copy") * 7919 + col("l_orderkey") * 104729,
          lit(99991)).cast("double")
        li.crossJoin(spark.range(copies).select(col("id").as("__copy")))
          .withColumn("l_extendedprice", col("l_extendedprice") + r / 100.0)
          .withColumn("l_discount", col("l_discount") + r / 9999100.0)
          .withColumn("l_partkey", col("l_partkey") + (r.cast("long") % 1000L))
          .drop("__copy")
      }
      ensureFile(replicated(10000000L), dta)
      ensureFile(replicated(10000000L), sav)
      ensureFile(replicated(50000000L), dta50)
      ensureFile(replicated(10000000L), zsav)
      // ANES-shaped wide file (73,745 x 1,030 doubles) — the exact shape
      // of BASELINE.md's SPSS full-read benchmark, so that number is
      // compared apples-to-apples rather than against a tall/narrow file
      val savWide = s"/tmp/graft_bench/${tag}_wide.sav"
      if (!new java.io.File(savWide).exists()) {
        val wide = spark.range(73745L).select(
          (col("id").cast("double").as("c0") +:
            (1 until 1030).map(i =>
              ((col("id") * i) % 997).cast("double").as(s"c$i"))): _*)
        wide.write.format("readstat").mode("overwrite").save(savWide)
      }
      // labeled 10M dta: value-label decode is the hot read path for
      // real survey data, previously unbenched — a 50-entry label table
      // on an int code column, decoded to strings at scan time
      val dtaLab = s"/tmp/graft_bench/${tag}_big_lab_v1.dta"
      ensureFile(
        replicated(10000000L)
          .withColumn("q_code", col("l_quantity").cast("int")),
        dtaLab,
        Map("valueLabels" ->
          (1 to 50).map(i => s"$i=Quantity level $i").mkString("q_code:", ",", "")))
      // 2M-row por (r11): the base-30 text format the reference decodes
      // strictly serially — the serial/parallel read pair below measures
      // the checkpoint-partition fan-out. Compact columns keep the
      // one-time driver-side encode bounded (~55 MB).
      val por = s"/tmp/graft_bench/${tag}_big_v1.por"
      ensureFile(
        replicated(2000000L)
          .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"),
            col("l_returnflag")),
        por)
      // dated 50M dta (r13): ship_date spans 2,500 distinct days so a
      // 50-day band is a ~2%-selective DATE-RANGE filter — the single
      // most common real filter shape on survey data, pushable since
      // r13's temporal conjunct compiler. 50M rows so decode dominates
      // the ~0.2 s session floor (at 10M the floor hides the skip win —
      // measured flat for the NUMERIC filter too at that size).
      val dtaDate = s"/tmp/graft_bench/${tag}_big_date50_v1.dta"
      ensureFile(
        replicated(50000000L).select(
          date_add(to_date(lit("1992-01-01")),
            (col("l_orderkey") % 2500).cast("int")).as("ship_date"),
          col("l_quantity"), col("l_extendedprice")),
        dtaDate)
      Some((dta, sav, dta50, zsav, savWide, dtaLab, por, dtaDate))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] big-file setup failed: ${e.getMessage}")
      None
    }
  }

  /** The runtime-prune star join (shared by the ON entry, its r14
    * DPP-off twin, and the dev harnesses): fact × the 2-key dim slice
    * (`hot = 1`, ~4% of fact rows), six columns aggregated so every
    * payload column is actually decoded for surviving rows. */
  private[graft] def dppHotJoin(spark: SparkSession, key50: String,
      dimPath: String): Long = {
    val dim = spark.read.parquet(dimPath)
      .filter(col("hot") === 1).select(col("q_code").as("qk"))
    spark.read.format("readstat")
      .option("partitionTargetBytes", "16777216").load(key50)
      .select("q_code", "l_orderkey", "l_partkey", "l_extendedprice",
        "l_discount", "l_returnflag")
      .join(dim, col("q_code") === col("qk"))
      .agg(sum(col("l_extendedprice")), sum(col("l_discount")),
        count(col("l_orderkey")), count(col("l_partkey")),
        count(col("l_returnflag")), count(lit(1)))
      .collect()(0).getLong(5)
  }

  /** Single wide .sas7bdat (623,757 x 286 numerics — the row/column
    * geometry of BASELINE.md's ACS PUMS SAS full-read benchmark) so the
    * SAS baseline cells compare against ONE wide file exercising
    * page-parallel decode at real row width, not only against the
    * 1000-small-files directory aggregate. v2 (r14): the 285 small-int
    * survey columns store at SAS LENGTH 4 via the writer's new
    * storageWidths — the width compression real PUMS files ship with —
    * so the on-disk bytes (~0.72 GiB, 1,148 B/row) are comparable to
    * the real mixed-width file instead of 3x it; values (< 997) stay
    * exact at w4, and the id column keeps the full 8. Written once by
    * this library's own sas7bdat writer (the reference cannot write
    * SAS at all) and re-used across rounds; the exact-row check
    * regenerates a file truncated by an interrupted earlier run. */
  private[graft] def ensureSasWide(spark: SparkSession): Option[String] = try {
    val path = "/tmp/graft_bench/sas_wide_v2.sas7bdat"
    val rows = 623757L
    def countMeta(): Long = spark.read.format("readstat").load(path)
      .agg(count(lit(1))).collect()(0).getLong(0)
    val valid = new java.io.File(path).exists() &&
      (try countMeta() == rows catch { case _: Throwable => false })
    if (!valid) {
      val wide = spark.range(rows).select(
        (col("id").cast("double").as("C0") +:
          (1 until 286).map(i =>
            ((col("id") * i) % 997).cast("double").as(s"C$i"))): _*)
      wide.write.format("readstat").mode("overwrite")
        .option("storageWidths",
          (1 until 286).map(i => s"C$i:4").mkString("|"))
        .save(path)
    }
    Some(path)
  } catch { case e: Throwable =>
    System.err.println(s"[bench] wide-SAS setup failed: ${e.getMessage}")
    None
  }

  /** SAS read throughput input: no sas7bdat writer existed in the
    * reference (read-only format), so replicate the ACS owner fixture
    * into a 1000-file directory (~400 MB, ~27.6M rows) — measures the
    * multi-file page-range scan AND the 1000-header driver-parallel
    * planning path; the count metric isolates metadata-only planning
    * (COUNT(*) pushdown reads zero data bytes). */
  private[graft] def ensureSasDir(): Option[String] = try {
    val src = new java.io.File(
      "/root/repo/src/test/resources/fixtures/sas/owner.sas7bdat")
    if (!src.exists()) None
    else {
      val dir = new java.io.File("/tmp/graft_bench/sas_dir")
      dir.mkdirs()
      if (dir.listFiles().count(_.getName.endsWith(".sas7bdat")) < 1000) {
        val bytes = java.nio.file.Files.readAllBytes(src.toPath)
        (0 until 1000).foreach { i =>
          val f = new java.io.File(dir, f"copy_$i%04d.sas7bdat")
          if (!f.exists()) java.nio.file.Files.write(f.toPath, bytes)
        }
      }
      Some(dir.getAbsolutePath)
    }
  } catch { case _: Throwable => None }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // untimed setup: generate the raw-read benchmark files, then warm every
    // query shape once at sf0.001 so timings measure steady-state execution
    // rather than one-time Catalyst/Janino compilation of each plan shape
    val bigFiles = ensureBigFiles(spark, sfDir)
    try SparkEntry.entry(spark).count() catch { case _: Throwable => }
    SparkEntry.queries.foreach { case (_, fn) =>
      try fn(spark, "/root/testdata/sf0.001").count()
      catch { case _: Throwable => }
    }

    def scan(path: String): DataFrame =
      spark.read.format("readstat")
        .option("partitionTargetBytes", "16777216").load(path)

    val sasDir: Option[String] = ensureSasDir()
    val sasWide: Option[String] = ensureSasWide(spark)

    val sasReads: Seq[(String, () => Long)] = sasDir.toSeq.flatMap { d =>
      Seq[(String, () => Long)](
        ("sas_dir1000_fullread", () =>
          scan(d).queryExecution.toRdd.count()),
        ("sas_dir1000_subset", () =>
          scan(d).select("CONTROL")
            .agg(count(col("CONTROL"))).collect()(0).getLong(0)),
        ("sas_dir1000_count_meta", () =>
          scan(d).agg(count(lit(1))).collect()(0).getLong(0)),
        // r14 multi-file OFFSET pushdown showcase: the global window
        // maps onto the directory's cumulative per-file row prefix, so
        // a 90% offset opens only the last ~100 of 1000 files — the
        // pagination-over-a-corpus shape at directory scale. Full-width
        // read so the comparable is sas_dir1000_fullread (decode-bound);
        // a single-column variant would drown the skip in the 1000-file
        // planning floor both entries share. The anchor row count is
        // computed ONCE here (setup, metadata only) — inlining it in
        // the closure would time a second query's planning floor.
        ("sas_dir1000_offset", {
          val total = try
            scan(d).agg(count(lit(1))).collect()(0).getLong(0)
          catch { case _: Throwable => 0L }
          val off90 = (total * 9L / 10L).toInt
          () => scan(d).offset(off90).queryExecution.toRdd.count()
        }))
    } ++ sasWide.toSeq.flatMap { w =>
      // BASELINE.md SAS cells, same geometry 1:1 (623,757 x 286):
      // full read 0.55 s, column-subset 0.07 s
      Seq[(String, () => Long)](
        ("sas_wide_fullread", () =>
          scan(w).queryExecution.toRdd.count()),
        ("sas_wide_subset", () =>
          scan(w).select("C3", "C7")
            .agg(count(col("C3")), count(col("C7")))
            .collect()(0).getLong(0)))
    }

    // BASELINE-comparable raw-read metrics (full read, column subset,
    // subset+filter). The 10M files match the baseline's row count
    // exactly; the 50M file is the decode-dominated variant where
    // Spark's fixed planning overhead is amortized away.
    val rawReads: Seq[(String, () => Long)] = bigFiles.toSeq.flatMap {
      case (dta, sav, dta50, zsav, savWide, dtaLab, por, dtaDate) =>
      // untimed setup for the r13 pushdown showcases, wrapped like every
      // other setup path so a failure (disk-full, corrupt cached file)
      // skips these three entries instead of aborting the whole record.
      // The 50M file's exact row count (metadata count, instant) anchors
      // the 90% offset. The DPP pair needs an INTEGER join key: Spark
      // wraps float/double join keys in KnownFloatingPointNormalized,
      // which translateRuntimeFilterV2 refuses, so runtime filters never
      // reach ANY DSv2 scan on a double key — and real star joins key
      // on integer ids anyway. The tiny dimension persists as parquet
      // so its filter survives as a real Filter node (a LocalRelation
      // dim would constant-fold and never trigger dynamic pruning);
      // q_code is l_quantity cast int (values 1..50 by construction),
      // so the dim derives from a range without rescanning the fact.
      val r13Setup: Option[(Int, String, String)] = try {
        val n50 = scan(dta50).count()
        val off90 = (n50 * 9L / 10L).toInt
        val key50 = s"${dta50.stripSuffix(".dta")}_key.dta"
        // regenerate on row-count mismatch, not mere existence: the
        // writer is not atomic, so an interrupted earlier run can leave
        // a truncated file that would otherwise be benched silently.
        // The count is metadata-only (COUNT(*) pushdown, zero data
        // bytes) and exactRowCount refuses a short data section, so a
        // truncated file either counts wrong or falls to a loud scan.
        val key50Valid = new java.io.File(key50).exists() &&
          (try scan(key50).agg(count(lit(1))).collect()(0).getLong(0) == n50
           catch { case _: Throwable => false })
        if (!key50Valid)
          scan(dta50)
            .withColumn("q_code", col("l_quantity").cast("int"))
            .write.format("readstat").mode("overwrite").save(key50)
        val dimPath = s"${dta50.stripSuffix(".dta")}_qdim.parquet"
        // `hot` is a NON-KEY flag on purpose: filtering the dim on the
        // join key itself (q_code IN (3,41)) would let Catalyst infer
        // the membership onto the fact side as a static pushed filter,
        // and the pair would no longer measure runtime pruning
        spark.range(1, 51)
          .select(col("id").cast("int").as("q_code"))
          .withColumn("hot",
            (col("q_code") === 3 || col("q_code") === 41).cast("int"))
          .coalesce(1).write.mode("overwrite").parquet(dimPath)
        Some((off90, key50, dimPath))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] r13 showcase setup failed: ${e.getMessage}")
        None
      }
      r13Setup.toSeq.flatMap { case (off90, key50, dimPath) =>
        Seq[(String, () => Long)](
          // r13 OFFSET pushdown: last 10% of the 50M file — partitions
          // start AT the offset row, so ~90% of the bytes are never read
          // (compare stata_subset_read_50m: the same two-column read of
          // the full file)
          ("stata_offset_read_50m", () =>
            scan(dta50).offset(off90)
              .select("l_quantity", "l_returnflag")
              .agg(count(col("l_quantity")), count(col("l_returnflag")))
              .collect()(0).getLong(0)),
          // r13 runtime (DPP) join filtering: the broadcast dim keeps 2
          // of ~50 key values (~4% of rows); the surviving keys reach
          // the fact scan as a runtime In-filter, so it decodes q_code
          // per row and the five payload columns only for survivors.
          // The static pair below runs the SAME slice as a plain isin
          // filter on the same file — the delta is the
          // broadcast+subquery machinery, not decode
          ("stata_runtime_prune_50m", () => dppHotJoin(spark, key50, dimPath)),
          ("stata_prune_static_50m", () =>
            scan(key50)
              .select("q_code", "l_orderkey", "l_partkey", "l_extendedprice",
                "l_discount", "l_returnflag")
              .filter(col("q_code").isin(3, 41))
              .agg(sum(col("l_extendedprice")), sum(col("l_discount")),
                count(col("l_orderkey")), count(col("l_partkey")),
                count(col("l_returnflag")), count(lit(1)))
              .collect()(0).getLong(5)),
          // r14 DPP crossover twin: the dim keys are NOT known to the
          // query author in a real star join, so the honest no-DPP
          // comparator for stata_runtime_prune_50m is the SAME join
          // with runtime filtering disabled — full fact decode + a
          // 50M-row join probe — not the hand-written isin (which
          // remains below as the unreachable ideal whose gap prices
          // the constant subquery/broadcast/replan machinery). The
          // ON−OFF delta is the decode + probe work the runtime filter
          // deletes; the full selectivity ladder is DPP_SWEEP_R14.json.
          ("stata_dpp_off_50m", () => {
            val k = "spark.sql.optimizer.dynamicPartitionPruning.enabled"
            val prev = spark.conf.get(k)
            spark.conf.set(k, "false")
            try dppHotJoin(spark, key50, dimPath)
            finally spark.conf.set(k, prev)
          }))
      } ++ Seq[(String, () => Long)](
        // the serial/parallel pair on the SAME file quantifies the r11
        // checkpoint-partition fan-out (the reference's por path is
        // strictly serial); 4 MB target → ~13-way split of ~55 MB
        ("por_fullread_2m", () =>
          spark.read.format("readstat")
            .option("partitionTargetBytes", "4194304").load(por)
            .queryExecution.toRdd.count()),
        ("por_fullread_serial", () =>
          spark.read.format("readstat").load(por)
            .queryExecution.toRdd.count()),
        // 1-of-4-column read: unprojected cells are SKIMMED (boundary
        // scan only), the por analog of projection pushdown
        ("por_subset_read", () =>
          spark.read.format("readstat")
            .option("partitionTargetBytes", "4194304").load(por)
            .select("L_QUANTI")
            .agg(count(col("L_QUANTI"))).collect()(0).getLong(0)),
        // value-label decode path (reference apply_value_labels): same
        // 10M-row geometry as stata_subset_read, labels ON vs OFF on
        // the identical file — the pair isolates the decode overhead
        ("stata_labeled_decode", () =>
          spark.read.format("readstat")
            .option("partitionTargetBytes", "16777216")
            .option("valueLabelsAsStrings", "true").load(dtaLab)
            .select("q_code", "l_quantity")
            .agg(count(col("q_code")), count(col("l_quantity")))
            .collect()(0).getLong(0)),
        ("stata_labeled_raw", () =>
          scan(dtaLab).select("q_code", "l_quantity")
            .agg(count(col("q_code")), count(col("l_quantity")))
            .collect()(0).getLong(0)),
        // informative-null indicator scan (r12 columnar): same geometry
        // as labeled_raw plus the derived q_code_null indicator column —
        // the delta is the per-cell missing-tag check + mostly-null
        // vector cost
        ("stata_infonull_read", () =>
          spark.read.format("readstat")
            .option("partitionTargetBytes", "16777216")
            .option("informativeNulls", "true").load(dtaLab)
            .select("q_code", "q_code_null")
            .agg(count(col("q_code")), count(col("q_code_null")))
            .collect()(0).getLong(0)),
        ("stata_fullread_10m", () => {
          // full materialization of every column, like the baseline's
          // read-into-frame. toRdd keeps the unprojected schema (count()
          // alone would prune all columns via pushdown) and our reader
          // decodes every required column eagerly per batch.
          scan(dta).queryExecution.toRdd.count()
        }),
        // subset metrics aggregate count(column), NOT count(*): a bare
        // count(*) is now answered from metadata by aggregate pushdown
        // and would measure nothing — per-column counts must decode
        // every selected column
        ("stata_subset_read", () =>
          scan(dta).select("l_quantity", "l_returnflag")
            .agg(count(col("l_quantity")), count(col("l_returnflag")))
            .collect()(0).getLong(0)),
        ("stata_subset_filter", () =>
          scan(dta).select("l_quantity", "l_extendedprice")
            .filter(col("l_quantity") > 25)
            .agg(count(lit(1))).collect()(0).getLong(0)),
        ("spss_fullread_10m", () =>
          scan(sav).queryExecution.toRdd.count()),
        ("spss_subset_read", () =>
          scan(sav).select("l_quantity", "l_returnflag")
            .agg(count(col("l_quantity")), count(col("l_returnflag")))
            .collect()(0).getLong(0)),
        ("stata_fullread_50m", () =>
          scan(dta50).queryExecution.toRdd.count()),
        ("stata_subset_read_50m", () =>
          scan(dta50).select("l_quantity", "l_returnflag")
            .agg(count(col("l_quantity")), count(col("l_returnflag")))
            .collect()(0).getLong(0)),
        ("stata_subset_filter_50m", () =>
          scan(dta50).select("l_quantity", "l_extendedprice")
            .filter(col("l_quantity") > 25)
            .agg(count(lit(1))).collect()(0).getLong(0)),
        // r13 temporal pushdown pair: same file, no filter vs a
        // ~2%-selective date-range filter. The filtered scan claims the
        // two date conjuncts (plan shows PushedFilters), decodes only
        // the ship_date filter cell per row, and skips l_extendedprice
        // for the ~98% of rows outside the band.
        ("stata_date_subset_50m", () =>
          scan(dtaDate).select("ship_date", "l_extendedprice")
            .agg(count(col("ship_date")), count(col("l_extendedprice")))
            .collect()(0).getLong(0)),
        ("stata_date_filter_50m", () =>
          scan(dtaDate).select("ship_date", "l_extendedprice")
            .filter(col("ship_date") >= lit("1994-01-01").cast("date") &&
              col("ship_date") < lit("1994-02-20").cast("date"))
            .agg(sum(col("l_extendedprice")), count(lit(1)))
            .collect()(0).getLong(1)),
        // r12 decode-skipping showcase: ~2%-selective pushed filter with
        // a SECOND projected column — the scan decodes l_quantity per
        // row, and l_extendedprice only for the ~2% of rows that pass
        // (r11 decoded both columns for every row)
        ("stata_filter_selective_50m", () =>
          scan(dta50).select("l_quantity", "l_extendedprice")
            .filter(col("l_quantity") > 49)
            .agg(sum(col("l_extendedprice")), count(lit(1)))
            .collect()(0).getLong(1)),
        // por analog: failing rows SKIM their remaining cells (boundary
        // walk, no base-30 parse) — POR cannot seek, but it can skip work
        ("por_filter_skim", () =>
          spark.read.format("readstat")
            .option("partitionTargetBytes", "4194304").load(por)
            .filter(col("L_QUANTI") > 49)
            .agg(sum(col("L_PARTKE")), count(lit(1)))
            .collect()(0).getLong(1)),
        // compressed read: checkpoint-parallel zlib inflate + columnar
        // decode (the reference's zsav path is serial, BASELINE.md:45-48)
        ("zsav_fullread_10m", () =>
          scan(zsav).queryExecution.toRdd.count()),
        ("zsav_subset_read", () =>
          scan(zsav).select("l_quantity", "l_returnflag")
            .agg(count(col("l_quantity")), count(col("l_returnflag")))
            .collect()(0).getLong(0)),
        // ANES shape: 73,745 x 1,030 — BASELINE.md:19-20 measures 1.09s
        // full read / 0.15s subset on this geometry
        ("spss_wide_fullread", () =>
          scan(savWide).queryExecution.toRdd.count()),
        ("spss_wide_subset", () =>
          scan(savWide).select("c1", "c7")
            .agg(count(col("c1")), count(col("c7")))
            .collect()(0).getLong(0)))
    }

    // warm every raw-read shape with one full untimed execution: the
    // first run of each shape pays codegen + OS page-cache population
    // (several seconds) that steady-state reads never see. The warm run
    // also captures each metric's ACTUAL row count — replication floors
    // to whole copies of the base table, so "10m" files hold e.g. 9.6M
    // rows at sf0.1; the emitted counts keep the record honest.
    val allRaw = rawReads ++ sasReads
    val rowCounts: Map[String, Long] = allRaw.flatMap { case (name, f) =>
      try Some(name -> f()) catch { case _: Throwable => None }
    }.toMap

    // timed runs per query: background machine load varies several-fold
    // between runs in this environment; the minimum is the standard
    // steady-state estimator under external noise. Rounds are
    // INTERLEAVED across queries (all queries round 1, then round 2,
    // then round 3) — three consecutive runs of one query all land
    // inside a multi-minute load burst and min-of-3 cannot reject it
    // (the round-6 record misreported 5 queries 7–50× that way);
    // interleaving spreads one query's runs minutes apart so a burst
    // inflates one round, not one query. A fixed in-memory noise
    // sentinel is timed before each round and recorded in the JSON, so
    // a contaminated round is visible and discountable after the fact.
    // a query that throws must surface as an error, never as a
    // wall-time: the round-7 record "timed" two analysis failures at
    // 0.06-0.08 s and the regression read as a 2x speed-up
    val errAcc = scala.collection.mutable.LinkedHashMap[String, String]()
    def timeOne(name: String, f: () => Any): Option[Double] = {
      // queries cache intermediates, and CacheManager matches plans
      // across invocations — clear so every timed run does the full work
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      try { f(); Some((System.nanoTime() - t0) / 1e9) }
      catch { case t: Throwable =>
        errAcc(name) = sanitizeErr(t)
        None
      }
    }
    // pure-CPU shuffle-free agg over in-memory longs: constant work, no
    // I/O, so its run-to-run ratio is a clean ambient-load gauge
    def sentinel(): Any =
      spark.range(200000000L).agg(sum(col("id"))).collect()
    sentinel() // warm
    def timeSentinel(): Double = {
      val t0 = System.nanoTime()
      sentinel()
      (System.nanoTime() - t0) / 1e9
    }
    // IO sentinel: the r9 record proved the CPU gauge is blind to the
    // contention class that actually hit the raw-read metrics — the CPU
    // sentinel gated 0.05-0.07 s "clean" while IO-bound reads inflated
    // 2-6x with byte-identical reader code. Time a fixed 256 MB
    // sequential read of an already-generated bench file (same /tmp
    // filesystem, same page-cache regime as the timed reads) so
    // filesystem/memory-bandwidth pressure from neighbor sandboxes is
    // visible to the gate. The checksum fold keeps the read from being
    // dead-code-eliminated.
    val ioSentinelPath: Option[String] =
      bigFiles.map(_._1).filter(p => new java.io.File(p).exists())
    // one reusable direct buffer: allocating 8 MB of off-heap per call
    // would itself perturb the memory pressure the sentinel measures
    // (direct buffers free only at GC)
    val ioBuf = java.nio.ByteBuffer.allocateDirect(8 << 20)
    def timeIoSentinel(): Double = ioSentinelPath match {
      case None => 0.0
      case Some(p) =>
        val buf = ioBuf
        val ch = java.nio.channels.FileChannel.open(
          java.nio.file.Paths.get(p))
        val t0 = System.nanoTime()
        try {
          var remaining = math.min(ch.size(), 256L << 20)
          var sink = 0L
          while (remaining > 0) {
            buf.clear()
            if (remaining < buf.capacity()) buf.limit(remaining.toInt)
            val n = ch.read(buf)
            if (n <= 0) remaining = 0
            else {
              sink += buf.get(0).toLong + n
              remaining -= n
            }
          }
          if (sink == Long.MinValue) println(sink) // defeat DCE
        } finally ch.close()
        (System.nanoTime() - t0) / 1e9
    }
    timeIoSentinel() // warm (populates the page cache for the slice)
    // load-gate: neighbor-sandbox bursts made the r7 medians meaningless.
    // Measure BOTH sentinels before each round; while either exceeds
    // 1.5x its quiet baseline, wait out the burst (bounded: ~2 min per
    // round) and re-measure. The times actually recorded in
    // `noise`/`noise_io` are the gate's final measurements, so residual
    // contamination stays visible.
    // baseline = the fastest sentinel seen so far: the FIRST measurement
    // can itself land in a burst, and anchoring the gate to it would
    // disarm the gate for the whole run
    var sentinelBest = timeSentinel()
    var ioBest = timeIoSentinel()
    def gatedSentinel(): (Double, Double) = {
      var s = timeSentinel()
      var io = timeIoSentinel()
      if (s < sentinelBest) sentinelBest = s
      if (io < ioBest) ioBest = io
      var tries = 0
      while ((s > 1.5 * sentinelBest || io > 1.5 * math.max(ioBest, 0.01))
          && tries < 6) {
        Thread.sleep(20000L)
        s = timeSentinel()
        io = timeIoSentinel()
        if (s < sentinelBest) sentinelBest = s
        if (io < ioBest) ioBest = io
        tries += 1
      }
      (s, io)
    }

    // 5 raw-read rounds: the BASELINE-comparable reads run 0.1-0.3 s,
    // where a single scheduler hiccup doubles a med-of-3 — five samples
    // keep the median a steady-state estimator (min was already robust)
    val rawRounds = 5
    val queryRounds = 2
    val queryFns: Seq[(String, () => Any)] =
      SparkEntry.queries.toSeq.map { case (name, fn) =>
        name -> (() => fn(spark, sfDir).count())
      }
    val noise = scala.collection.mutable.ArrayBuffer[Double]()
    val noiseIo = scala.collection.mutable.ArrayBuffer[Double]()
    def recordGate(): Unit = {
      // nudge the collector between rounds: 135 queries accumulate
      // broadcast blocks whose cleanup is GC-triggered, and a major GC
      // mid-timed-query is exactly the noise the gate exists to reject
      System.gc()
      val (s, io) = gatedSentinel()
      noise += s
      noiseIo += io
    }
    val runsAcc = scala.collection.mutable.LinkedHashMap[String, Vector[Double]]()
    (queryFns.map(_._1) ++ allRaw.map(_._1)).foreach(runsAcc(_) = Vector())
    for (r <- 0 until math.max(rawRounds, queryRounds)) {
      recordGate()
      if (r < queryRounds)
        queryFns.foreach { case (n, f) => timeOne(n, f).foreach(runsAcc(n) :+= _) }
      if (r < rawRounds)
        allRaw.foreach { case (n, f) => timeOne(n, f).foreach(runsAcc(n) :+= _) }
    }
    // rescue pass: interleaving protects against one burst, but a query
    // whose every round still landed in bursts shows up as high
    // dispersion (round-7 observation: stata_subset_read_50m ran
    // [6.96, 2.27, 6.74] while its idle-machine time is 0.36 s — load
    // average 5.8 from neighbor sandboxes). Any query whose max run
    // exceeds 2.5x its min gets up to two extra runs, placed after all
    // rounds so they sit minutes away from the original burst. The
    // 50 ms floor keeps sub-planning-time queries (which jitter
    // multi-fold naturally) out of the rescue set.
    val fnByName: Map[String, () => Any] = (queryFns ++ allRaw).toMap
    for (_ <- 0 until 2) {
      val suspects = runsAcc.collect { case (n, rs)
        if rs.nonEmpty && rs.max > 2.5 * math.max(rs.min, 0.05) => n }.toSeq
      if (suspects.nonEmpty) {
        recordGate()
        suspects.foreach { n => timeOne(n, fnByName(n)).foreach(runsAcc(n) :+= _) }
      }
    }
    def median(rs: Seq[Double]): Double = {
      val s = rs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    // med/min certification (EVERY reported query): the between-round
    // gate is structurally blind to contention landing MID-query, and
    // the rescue pass fires on max/min — a burst spanning several rounds
    // can leave the MEDIAN contaminated with every individual trigger
    // quiet (the r10 record: sas_dir1000_fullread ran 0.9 s and 90 s in
    // one record; the r11 record carried q2/q22/graph_triangles numbers
    // 2-3x their committed certified values the same way). Re-time any
    // query whose med/min > 2 (gated, so the retries themselves wait
    // out bursts) until the median settles or the retry cap hits;
    // queries that exhaust retries are flagged in the record as
    // med_uncertified rather than silently reported.
    val medUncertified: Seq[String] = {
      val allSet = runsAcc.keySet.toSet
      def dirty(n: String): Boolean = runsAcc.get(n).exists(rs =>
        rs.nonEmpty && median(rs) > 2.0 * math.max(rs.min, 0.05))
      var pending = allSet.filter(dirty)
      var retries = 0
      // 4 retries recover a median from up to 3 contaminated samples
      // out of the 5 base rounds
      while (pending.nonEmpty && retries < 4) {
        recordGate()
        pending.foreach(n => timeOne(n, fnByName(n)).foreach(runsAcc(n) :+= _))
        retries += 1
        pending = pending.filter(dirty)
      }
      pending.toSeq.sorted
    }
    // a query with zero successful runs is an error entry, not a timing
    val failed: Seq[String] = runsAcc.collect {
      case (n, rs) if rs.isEmpty => n }.toSeq
    failed.foreach(runsAcc.remove)
    val allRuns: Seq[(String, Seq[Double])] = runsAcc.toSeq
    val results = allRuns.map { case (k, runs) => k -> runs.min }
    val medians = allRuns.map { case (k, runs) => k -> median(runs) }.toMap

    // round to 100 µs: run-to-run noise here is >1 ms, and shorter
    // output shrinks the window for log-line interleaving in capture
    def fmt(v: Double): String = BigDecimal(v)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
    // the recorded line is the LAST ~2000 chars of sbt output: everything
    // printed must fit there together with sbt's trailing [success] line,
    // or the record is truncated mid-JSON and unparseable (the fate of
    // BENCH_r1–r4). Print 2-decimal values (fmt2) and hard-cap the line;
    // the full-precision record with per-run vectors and row counts
    // always goes to BENCH_LOCAL.json in the repo.
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // priority: BASELINE-comparable raw reads first (the historically
    // line-visible set — keeping them first means no previously-reported
    // entry ever falls off the line), then the queries this optimization
    // round touched (the driver MUST be able to compare them
    // round-over-round), then relational q1–q22, then the rest — later
    // entries drop first if the char budget is hit
    val rawNames = allRaw.map(_._1)
    val priority: Map[String, Int] = results.map { case (k, _) =>
      k -> (if (rawNames.contains(k)) 0
            else if (touchedThisRound.contains(k)) 1
            else if (k.matches("q\\d+_.*")) 2 else 3)
    }.toMap
    val ordered = results.sortBy { case (k, _) => (priority(k), k) }
    // 2000-char capture window minus sbt's ~70-char "[success] Total
    // time: ..." trailer, with margin for timestamp-length variance
    val budget = 1820
    // r15: the printed med block is GONE from the line — it consumed
    // ~900 of the 1820-char budget and starved the per-query min entries
    // the driver actually compares (PERF_r14 saw 17 of 177 entries; 13
    // stata_* entries that fell off the line read as "dropped"). Medians
    // for every query remain in BENCH_LOCAL.json ("detail"). With the
    // block gone and 2-decimal mins, ~66 entries fit; all 177 (~4.4 kB)
    // physically cannot — the driver keeps only the LAST 2000 chars of
    // sbt output (BENCH_r01–r04 lost whole records by overflowing it).
    // noise stays: the per-round sentinel times are the contamination
    // evidence the round-over-round judgment depends on.
    val noiseJson = noise.map(fmt2).mkString("[", ",", "]")
    val noiseIoJson = noiseIo.map(fmt2).mkString("[", ",", "]")
    // failed queries ride in the guaranteed tail so the driver-visible
    // record always shows them, even under the char budget — but the
    // tail itself must stay bounded: a systemic regression failing most
    // of the registry would otherwise overflow the capture window and
    // truncate the one parseable record mid-JSON (the BENCH_r1-r4
    // failure mode). Cap at 8 names + a count; the full map is always
    // in BENCH_LOCAL.json.
    val errTail = if (failed.isEmpty) ""
      else {
        val shown = failed.take(8).map("\"" + _ + "\"")
        val more = failed.length - shown.length
        s""","errors":${shown.mkString("[", ",", "]")}""" +
          (if (more > 0) s""","errors_omitted":$more""" else "")
      }
    // the per-query contamination flag rides in the guaranteed tail:
    // a med that could not be certified must be visible to the driver,
    // not only in the detail file
    val medFlagTail = if (medUncertified.isEmpty) ""
      else s""","med_uncertified":${medUncertified.take(8)
        .map("\"" + _ + "\"").mkString("[", ",", "]")}"""
    val fixedTail =
      s""","noise":$noiseJson,"noise_io":$noiseIoJson$errTail$medFlagTail,"sf":"$sfDir","detail":"BENCH_LOCAL.json"}"""
    val line = packLine(total, ordered, fixedTail, budget)

    val qsFull = results.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val runsJson = allRuns.map { case (k, runs) =>
      s"\"" + k + "\":" + runs.map(fmt).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val rowsJson = rowCounts.toSeq.sortBy(_._1).map { case (k, n) =>
      s"\"" + k + "\":" + n
    }.mkString("{", ",", "}")
    val medFull = medians.toSeq.sortBy(_._1).map { case (k, v) =>
      s"\"" + k + "\":" + fmt(v)
    }.mkString("{", ",", "}")
    val errJson = errAcc.toSeq.map { case (k, m) =>
      s"\"" + k + "\":\"" + m + "\""
    }.mkString("{", ",", "}")
    val medUncJson = medUncertified.map("\"" + _ + "\"").mkString("[", ",", "]")
    val full = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qsFull,"med":$medFull,"med_uncertified":$medUncJson,"noise":$noiseJson,"noise_io":$noiseIoJson,"runs":$runsJson,"rows":$rowsJson,"errors":$errJson,"sf":"$sfDir"}"""
    // stop Spark BEFORE printing: its shutdown-hook logging otherwise
    // races this println and can interleave mid-line, corrupting the one
    // JSON record the driver parses
    spark.stop()
    java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_LOCAL.json"),
      full.getBytes("UTF-8"))
    println(line)
    System.out.flush()
  }
}
