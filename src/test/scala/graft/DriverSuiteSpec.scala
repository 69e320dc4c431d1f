package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.schema.Schema

/** Port of the reference driver suite (reference: test/Test.Main.purs:
  * 637-964). The reference asserts golden MongoDB pipeline JSON; here each
  * query runs against an equivalent in-memory fixture and the *result set*
  * is asserted — a strictly stronger check of the same semantics
  * (SURVEY.md §5 "golden tests become result-set goldens").
  */
class DriverSuiteSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  /** fixture for the flat-schema cases: mage-like rows with scalar fields */
  private lazy val flat: DataFrame = Seq(
    // name, age, lvl, class, power, parent, is_necromancer
    ("alice", 12.0, 3.0, "necromancer", 100.0, Some("carol"), true),
    ("bob", 15.0, 4.0, "necromancer", 250.0, None, false),
    ("carol", 16.0, 4.0, "priest", 400.0, None, false),
    ("dan", 15.0, 6.0, "priest", 150.0, Some("carol"), false),
    ("erin", 30.0, 6.0, "necromancer", 900.0, None, true),
  ).toDF("name", "age", "lvl", "class", "power", "parent", "is_necromancer")

  private def run(q: String, df: DataFrame = flat): DataFrame =
    Compiler.queryOrThrow(df, q)

  test("driver contract: the rows-only queries are the documented 9") {
    // rows-only queries (no oracle) are legitimate, but must be the
    // documented approximate set, not an accidental omission — pin the
    // count so a new query silently missing its oracle trips review
    val rowsOnly = catalog.Catalog.specs.collect {
      case catalog.QuerySpec(name, _, catalog.RowsOnly(_)) => name
    }.toSet
    // each RowsOnly spec names what cannot be mirrored (k-means and BPE
    // training, DEFLATE, HLL internals, eigensolves) and the invariant
    // contract that checks it instead
    assert(rowsOnly.size == 9, s"rows-only query count changed (${rowsOnly.size}): " +
      s"either add the missing oracle or update this pin.\n$rowsOnly")
  }

  test("driver contract: the catalog refuses a repeated query name") {
    val spec = catalog.QuerySpec("q_twice", (s, _) => s.emptyDataFrame, catalog.RowsOnly("test"))
    val e = intercept[IllegalArgumentException](catalog.QuerySpec.unique(Seq(spec, spec)))
    assert(e.getMessage.contains("repeated query name: q_twice"))
    assert(catalog.QuerySpec.unique(catalog.Catalog.specs).size == 207)
  }

  test("SELECT SUM(lvl) GROUP BY age (ref :638)") {
    val got = run("SELECT SUM(lvl) GROUP BY age").collect()
      .map(r => r.getAs[Double]("_id") -> r.getAs[Double]("lvl")).toMap
    assert(got == Map(12.0 -> 3.0, 15.0 -> 10.0, 16.0 -> 4.0, 30.0 -> 6.0))
  }

  test("SELECT MAX(spells.power) AS max_power (ref :655)") {
    val got = run("SELECT MAX(spells.power) AS max_power", SparkSpec.mages)
      .agg(org.apache.spark.sql.functions.max("max_power")).collect().head.getDouble(0)
    assert(got == 9999.0)
  }

  test("SELECT AVG(power) FROM (SELECT class, AVG(spells.power) AS power) GROUP BY class (ref :686)") {
    val got = run("SELECT AVG(power) FROM (SELECT details.biographical.class AS class, AVG(spells.power) AS power) GROUP BY class",
        SparkSpec.mages).collect()
      .map(r => r.getAs[String]("_id") -> r.getAs[Double]("power")).toMap
    assert(got.keySet == Set("sorcerer", "soldier", "summoner", "thief"))
  }

  test("SELECT name WHERE age < 16 (ref :724)") {
    assert(run("SELECT name WHERE age < 16").collect().map(_.getString(0)).toSet ==
      Set("alice", "bob", "dan"))
  }

  test("WHERE with AND of comparison + string eq (ref :745)") {
    assert(run("SELECT power WHERE age < 16 AND class = \"necromancer\"")
      .collect().map(_.getDouble(0)).toSet == Set(100.0, 250.0))
  }

  test("WHERE with parenthesized OR inside AND (ref :769)") {
    assert(run("SELECT power WHERE (age < 16 OR class = \"priest\") AND class = \"necromancer\"")
      .collect().map(_.getDouble(0)).toSet == Set(100.0, 250.0))
  }

  test("SELECT power WHERE parent = NULL matches null (ref :800)") {
    assert(run("SELECT power WHERE parent = NULL").collect().map(_.getDouble(0)).toSet ==
      Set(250.0, 400.0, 900.0))
  }

  test("SELECT class WHERE NOT(is_necromancer) → {field: false} (ref :819)") {
    assert(run("SELECT class WHERE NOT(is_necromancer)").collect().map(_.getString(0)).toList
      .sorted == List("necromancer", "priest", "priest"))
  }

  test("ORDER BY applies to input fields before projection (ref :838)") {
    assert(run("SELECT power ORDER BY name").collect().map(_.getDouble(0)).toList ==
      List(100.0, 250.0, 400.0, 150.0, 900.0))
  }

  test("ORDER BY multi-key with directions (ref :857)") {
    assert(run("SELECT power ORDER BY class DESC, age").collect().map(_.getDouble(0)).toList ==
      List(150.0, 400.0, 100.0, 250.0, 900.0))
  }

  test("GROUP BY NULL with pre-aggregation ORDER BY (ref :877)") {
    val row = run("SELECT MAX(power) GROUP BY NULL ORDER BY age ASC").collect().head
    assert(row.getAs[Double]("power") == 900.0)
    assert(row.isNullAt(row.fieldIndex("_id")))
  }

  test("LIMIT 14 OFFSET 42 yields empty (limit before skip, ref :899)") {
    assert(run("SELECT power LIMIT 14 OFFSET 42").count() == 0)
    assert(run("SELECT power LIMIT 3 OFFSET 2").count() == 1)
  }

  test("GROUP BY NULL ORDER BY age LIMIT pre-aggregation (ref :919)") {
    // sort by age (12, 15, 15, ...), keep first 3 rows → powers 100/250/150
    val row = run("SELECT MAX(power) GROUP BY NULL ORDER BY age LIMIT 3").collect().head
    assert(row.getAs[Double]("power") == 250.0)
  }

  test("NOT over AND does De Morgan with negated comparisons (ref :944)") {
    // NOT(power > 150 AND class = "necromancer") ≡ power <= 150 OR class != "necromancer"
    assert(run("SELECT name WHERE NOT(power > 150 AND class = \"necromancer\")")
      .collect().map(_.getString(0)).toSet == Set("alice", "carol", "dan"))
  }

  test("grouped COUNT output column is named count (ref :1257 naming quirk)") {
    val df = run("SELECT COUNT(name) GROUP BY age")
    assert(df.schema.fieldNames.toSet == Set("_id", "count"))
  }

  test("SELECT DISTINCT deduplicates rows (extension; reference roadmap README:299-304)") {
    // default path stays bug-compatible: DISTINCT fails to parse
    assert(Compiler.query(flat, "SELECT DISTINCT class").isLeft)
    val got = Compiler.queryOrThrow(flat, "SELECT DISTINCT class", extensions = true)
      .collect().map(_.getString(0)).toSet
    assert(got == Set("necromancer", "priest"))
    // over two columns, and composed with WHERE
    val pairs = Compiler.queryOrThrow(flat,
        "SELECT DISTINCT class, lvl WHERE lvl > 3", extensions = true)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    assert(pairs == Set(("necromancer", 4.0), ("necromancer", 6.0), ("priest", 4.0), ("priest", 6.0)))
    // semantic gate still applies under the extension flag
    assert(Compiler.query(flat, "SELECT DISTINCT nonexistent", extensions = true).isLeft)
  }

  test("DISTINCT dedups the pipeline RESULT: after the dialect's pre-projection LIMIT") {
    // dialect stage order (reference quirk O1/O2): sort/limit INPUT rows,
    // project, then — extension — dedup. With age-sorted inputs the first
    // 3 rows are ages 12,15,15 → classes necromancer×2, priest → 2 rows.
    // (ANSI would dedup first and then limit — documented divergence,
    // consistent with the dialect's own limit semantics.)
    val got = Compiler.queryOrThrow(flat,
        "SELECT DISTINCT class ORDER BY age LIMIT 3", extensions = true)
      .collect().map(_.getString(0)).toSet
    assert(got == Set("necromancer", "priest"))
  }

  test("dotted path inside array element structs: MAX(spells.power.super) (ref :1419)") {
    val schema = StructType(Seq(
      StructField("spells", ArrayType(StructType(Seq(
        StructField("power", StructType(Seq(
          StructField("normal", DoubleType), StructField("super", DoubleType))))))))))
    val rows = java.util.Arrays.asList(
      Row(Seq(Row(Row(10.0, 100.0)), Row(Row(20.0, 50.0)))),
      Row(Seq(Row(Row(5.0, 500.0)))))
    val df = spark.createDataFrame(rows, schema)
    val got = Compiler.queryOrThrow(df, "SELECT MAX(spells.power.super)")
      .collect().map(_.getDouble(0)).toSet
    assert(got == Set(100.0, 500.0))
  }

  test("ANN recall floor: driver configs keep recall@5 >= 0.6 at both SFs") {
    // the contract behind q_sim_lsh_recall / q_sim_ivf_recall /
    // q_sim_pq_recall: the driver rows report a number, this test makes
    // the number a promise. Since round 7 every meter uses the SAMPLED
    // truth pattern (probeSample ~80 probes (oneIn=25 at sf<=0.1) for the recallAtK rows,
    // exactCosinePairs probeOneIn=4 for the pair meters) — the 100 TB
    // configuration, exercised at the correctness SFs. Measured headroom
    // at the pinned configs (lsh 5 planes × 24 tables, ivf nlist=16
    // nprobe=6, pq m=16 ksub=16 rerank ~0.4% of corpus (8 at sf<=0.1), ivfpq nprobe=8 rerank=16,
    // bq rerank=64, embedding near-dup 5 planes × 12 tables), sf0.01 /
    // sf0.1: lsh 0.86/0.89, ivf 0.85/0.77, pq 0.90/0.77, ivfpq
    // 0.91/0.80, sq 1.0/1.0, bq 0.98/0.88, embedding-dedup 1.0/0.74,
    // semantic-dedup 1.0/0.83, hard-neg 0.82/0.86, hard-pos 0.87/0.86 —
    // a drop below 0.6 means the hash families or the corpus shifted, not
    // noise (the pipeline is deterministic end to end).
    val configs = Map(
      "q_sim_lsh_recall" -> "srp 5 planes x 24 tables, probeSample ~80 probes (oneIn=25 at sf<=0.1)",
      "q_sim_ivf_recall" -> "ivf nlist=16 nprobe=6, probeSample ~80 probes (oneIn=25 at sf<=0.1)",
      "q_sim_pq_recall" -> "pq m=16 ksub=16 rerank ~0.4% of corpus (8 at sf<=0.1), probeSample ~80 probes (oneIn=25 at sf<=0.1)",
      "q_sim_ivfpq_recall" -> "ivf+pq nprobe=8 rerank corpus-aware (16 at sf<=0.1, n/250 above), probeSample ~80 probes (oneIn=25 at sf<=0.1)",
      "q_sim_sq_recall" -> "sq8 rerank=8, probeSample ~80 probes (oneIn=25 at sf<=0.1)",
      "q_sim_bq_recall" -> "1-bit bq rerank ~3.2% of corpus (64 at sf<=0.1), probeSample ~80 probes (oneIn=25 at sf<=0.1)",
      "q_dedup_embedding_recall" -> "srp scale-aware (5 planes x 12 tables at sf<=0.1; +1 plane per corpus doubling, tables from the recall model above), exact pairs ~500 probes (probeOneIn=4 at sf<=0.1)",
      "q_dedup_semantic_recall" -> "kmeans cells/probes scale-aware ((8,2) at sf<=0.1, capped (32,3) above), exact pairs ~500 probes (probeOneIn=4 at sf<=0.1)",
      "q_sim_hard_neg_lsh_recall" -> "banded hard negatives, probeSample ~80 probes (oneIn=25 at sf<=0.1)",
      "q_sim_hard_pos_lsh_recall" -> "banded hard positives, probeSample ~80 probes (oneIn=25 at sf<=0.1)",
      "q_dedup_semantic_white" -> "pca-whitened k=8, kmeans cells/probes scale-aware ((8,2) at sf<=0.1, capped (32,3) above), exact pairs ~500 probes (probeOneIn=4 at sf<=0.1)",
    )
    // The repo root is resolved explicitly (env override, else the dir
    // holding build.sbt walking up from cwd, else cwd) so a test run
    // launched from elsewhere neither mis-numbers nor misplaces the
    // artifact, and the generated sf1 rung resolves location-independently.
    val root = {
      val env = sys.env.get("GRAFT_REPO_ROOT").map(new java.io.File(_))
      def up(d: java.io.File): Option[java.io.File] =
        if (d == null) None
        else if (new java.io.File(d, "build.sbt").isFile) Some(d)
        else up(d.getParentFile)
      env.orElse(up(new java.io.File(".").getAbsoluteFile))
        .getOrElse(new java.io.File("."))
    }
    // the sf1 rung is generated (graft.tools.Datagen, round 9) rather
    // than driver-provided — include it in the recall ladder when built,
    // so the per-round artifact carries floors one decade further up
    val sf1 = Seq(new java.io.File(root, "tools/sf1").getPath).filter(d =>
      new java.io.File(s"$d/embeddings.parquet").isFile)
    val measured =
      for (dir <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1") ++ sf1;
           q <- configs.keys.toSeq.sorted) yield {
        val row = SparkEntry.queries(q)(spark, dir).collect().head
        val recall = row.getAs[Double]("recall")
        val floor = graft.tools.RecallContract.floor(q)
        assert(recall >= floor, s"$q at $dir: recall $recall below the $floor floor")
        (q, dir.split('/').last, recall)
      }
    // round-6 verdict ask #8 (emitted since round 8): persist the
    // measured margins per round so drift is diffable like bench times.
    // Round number = the next BENCH_r artifact the driver will write.
    // listFiles() on an unreadable dir returns null — treat that as
    // round 1 rather than NPE.
    val round = Option(root.listFiles()).getOrElse(Array.empty)
      .map(_.getName).collect { case s if s.matches("BENCH_r\\d+\\.json") =>
        s.stripPrefix("BENCH_r").stripSuffix(".json").toInt }
      .foldLeft(0)(math.max) + 1
    val rows = measured.map { case (q, sf, r) =>
      s"""    {"query": "$q", "sf": "$sf", "recall": ${graft.tools.RecallContract.jsonNum(r)},""" +
        s""" "floor": ${graft.tools.RecallContract.floor(q)}, "config": "${configs(q)}"}"""
    }.mkString(",\n")
    java.nio.file.Files.writeString(
      new java.io.File(root, f"RECALL_r$round%02d.json").toPath,
      s"""{\n  "rows": [\n$rows\n  ]\n}\n""")
  }

  test("pca driver rows: variance curve well-formed, whitened components unit-variance") {
    // the contracts behind the rows-only q_emb_pca_var / q_emb_pca_whiten
    // (eigen output has no SQL mirror; q_emb_pca_norm is the full oracle)
    for (dir <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val v = SparkEntry.queries("q_emb_pca_var")(spark, dir)
        .orderBy(col("component")).collect()
      assert(v.length == 64)
      val eig = v.map(_.getAs[Double]("eigenvalue"))
      assert(eig.zip(eig.tail).forall { case (a, b) => a >= b - 1e-9 }, s"$dir: not descending")
      assert(eig.forall(_ >= -1e-9))
      val cumLast = v.last.getAs[Double]("cum_share")
      assert(math.abs(cumLast - 1.0) < 1e-4, s"$dir: complete basis must explain all variance, got $cumLast")
      // per-row whitened projections (the driver row q_emb_pca_whiten now
      // carries the covariance-identity FULL oracle; the raw projections
      // stay contracted here): unit variance, zero mean, per component
      graft.functions.GraftFunctions.register(spark)
      val m8 = graft.ops.Embeddings.trainPca(
        spark.read.parquet(s"$dir/embeddings.parquet"), "embedding", "vec_id", 8)
      val w = spark.read.parquet(s"$dir/embeddings.parquet")
        .select(graft.ops.Embeddings.pcaProject(m8, col("embedding"), whiten = true)
          .as("w"))
        .collect().map(_.getAs[scala.collection.Seq[Double]]("w").toArray)
      for (c <- 0 until 8) {
        val xs = w.map(_(c))
        val mu = xs.sum / xs.length
        val va = xs.map(x => (x - mu) * (x - mu)).sum / xs.length
        assert(math.abs(va - 1.0) < 0.01, s"$dir: whitened var c$c = $va")
        assert(math.abs(mu) < 0.01, s"$dir: whitened mean c$c = $mu")
      }
      // and the driver row itself is exactly the identity at 6 dp
      val cov = SparkEntry.queries("q_emb_pca_whiten")(spark, dir).collect()
      assert(cov.length == 36)
      cov.foreach { r =>
        val expect = if (r.getLong(0) == r.getLong(1)) 1.0 else 0.0
        assert(r.getAs[Double]("cov") == expect,
          s"$dir: whitened cov(${r.getLong(0)},${r.getLong(1)}) = ${r.getAs[Double]("cov")}")
      }
    }
  }

  test("logistic trainer beats the Rocchio baseline AUC at both SFs") {
    // the contract behind q_text_lr_auc: the iterative trainer exists to
    // clear the closed-form baseline, and both AUCs are deterministic
    // (integer-exact training, tie-corrected rank statistic), so a
    // non-improvement is a regression, not noise. Measured at the pinned
    // config (16 epochs, lr=512, lrBias=4): 0.6430 vs 0.6403 at sf0.01,
    // 0.5469 vs 0.5421 at sf0.1.
    for (dir <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val rocchio = SparkEntry.queries("q_text_auc")(spark, dir)
        .select(col("auc")).collect().head.getDouble(0)
      val lr = SparkEntry.queries("q_text_lr_auc")(spark, dir)
        .select(col("auc")).collect().head.getDouble(0)
      assert(lr > rocchio, s"$dir: lr auc $lr does not beat rocchio $rocchio")
    }
  }

  test("approx source overlap stays inside its own emitted error bound") {
    // the contract behind q_dedup_source_overlap_approx: for every
    // source pair, |approx − exact| ≤ the row's err_bound, and the
    // diagonal (plain per-source cardinality) is within 3×rsd relative
    for (dir <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val exact = SparkEntry.queries("q_dedup_source_overlap")(spark, dir)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val approx = SparkEntry.queries("q_dedup_source_overlap_approx")(spark, dir)
        .collect()
      assert(approx.nonEmpty)
      approx.foreach { r =>
        val key = (r.getString(0), r.getString(1))
        val shared = r.getAs[Long]("n_shared_approx")
        val bound = r.getAs[Double]("err_bound")
        val truth = exact.getOrElse(key, 0L)
        assert(math.abs(shared - truth) <= bound + 1e-9,
          s"$dir $key: approx $shared vs exact $truth, bound $bound")
        if (key._1 == key._2) // diagonal: plain HLL estimate of |A|
          assert(math.abs(shared - truth) <= 0.05 * truth + 1,
            s"$dir diagonal $key: $shared vs $truth")
      }
      // approx covers the FULL pair triangle (exact's inner join drops
      // zero-overlap pairs; the sketch version reports them as ~0)
      val approxKeys = approx.map(r => (r.getString(0), r.getString(1))).toSet
      assert(exact.keySet.subsetOf(approxKeys))
      val s = approxKeys.map(_._1).size
      assert(approxKeys.size == s * (s + 1) / 2, s"$dir: not a full triangle")
    }
  }

  test("compression ratio signal: bounds, agreement with byte length, determinism") {
    // the contract behind q_text_compress (rows-only — no deflate in
    // DuckDB): compressed length is positive and within the raw-deflate
    // envelope (stored-block overhead ≤ 11 bytes + 5 per 16 KiB), real
    // text compresses on average, and the signal is deterministic
    for (dir <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val rows = SparkEntry.queries("q_text_compress")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      assert(rows.nonEmpty)
      rows.foreach { case (id, n, dl, ratio) =>
        assert(dl > 0, s"$dir doc $id: deflate_len $dl")
        assert(dl <= n + 11 + 5 * (n / 16384 + 1), s"$dir doc $id: $dl vs $n bytes")
        // short docs (min 44 bytes here) can exceed 1.0 by the block
        // overhead; the envelope above is the hard bound, this the sanity
        assert(ratio > 0.0 && ratio <= 1.3, s"$dir doc $id: ratio $ratio")
      }
      assert(rows.map(_._4).sum / rows.length < 0.9,
        s"$dir: real text should compress on average")
      val again = SparkEntry.queries("q_text_compress")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      assert(rows.toSet == again.toSet, s"$dir: signal not deterministic")
    }
  }

  test("mixture optimizer: target-source recovery and KL improvement floors") {
    // semantic floors on top of q_dsir_mixture's full oracle (the DuckDB
    // recursive-CTE replay certifies the arithmetic; these certify the
    // SOLVE is good): blending the language slices toward the 'en' slice
    // must put nearly all weight on 'en' (≥ 0.9 at the 500-iteration
    // driver budget), strictly improve on the uniform blend, and stay on
    // the simplex
    for (dir <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val rows = SparkEntry.queries("q_dsir_mixture")(spark, dir)
        .collect()
        .map(r => r.getString(0) ->
          ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
      assert(rows.keySet == Set("en", "de", "es", "fr", "zh"), s"$dir: $rows")
      assert(rows("en")._1 >= 0.9, s"$dir: en weight ${rows("en")._1}")
      assert(math.abs(rows.values.map(_._1).sum - 1.0) < 1e-3, s"$dir: $rows")
      val (_, klU, klO) = rows("en")
      assert(klO < klU, s"$dir: kl $klU -> $klO")
      // deterministic across reruns (fixed iteration budget, no RNG)
      val again = SparkEntry.queries("q_dsir_mixture")(spark, dir)
        .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
      assert(again == rows.map { case (k, v) => k -> v._1 }, s"$dir rerun")
    }
  }

  test("D4 diversification: per-cell drop quota and prototypicality ordering") {
    // the contract behind q_dedup_d4 (planted-side twin of the row's own
    // oracled verification, round 11): for every cell, exactly
    // min(ceil(0.25 × cellN), cellN − 1) rows are dropped (a cell
    // always keeps at least one row), and every dropped row is at least
    // as prototypical as every kept row (ties at the boundary allowed)
    for (dir <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val emb = SparkEntry.t(spark, dir, "embeddings")
      val index = graft.ops.Similarity.trainIvf(emb, "embedding", "vec_id", nlist = 8)
      val all = graft.ops.Dedup.prototypicality(emb, "embedding", "vec_id", index)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      val kept = graft.ops.Dedup.diversify(emb, "embedding", "vec_id", index,
          dropFraction = 0.25)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      val keptIds = kept.map(_._1).toSet
      for ((cell, rows) <- all.groupBy(_._2)) {
        val keptRows = rows.filter(r => keptIds(r._1))
        val dropped = rows.filterNot(r => keptIds(r._1))
        assert(dropped.length ==
            math.min(math.ceil(rows.length * 0.25).toInt, rows.length - 1),
          s"$dir cell $cell: ${dropped.length} dropped of ${rows.length}")
        if (keptRows.nonEmpty && dropped.nonEmpty)
          assert(keptRows.map(_._3).max <= dropped.map(_._3).min,
            s"$dir cell $cell: kept a row more prototypical than a dropped one")
      }
      // kept output agrees with the independent prototypicality pass
      assert(kept.toSet.subsetOf(all.toSet))
      // and the driver row's own verification (the oracled reshape)
      // reaches the same verdict
      val row = SparkEntry.queries("q_dedup_d4")(spark, dir).collect().head
      assert(row.getAs[Long]("n_vecs") == all.length)
      assert(row.getAs[Boolean]("all_quota_ok"))
      assert(row.getAs[Boolean]("all_ordering_ok"))
    }
  }

  test("approx perplexity buckets agree with exact up to cutoff-boundary docs") {
    // the contract behind q_lm_bucket_approx: approx_percentile replaces
    // the exact-percentile value buffer (the 100 TB configuration), and
    // the only rows allowed to move are those BETWEEN the exact
    // interpolated cutoff and the approx within-data cutoff — a handful
    // at tercile boundaries, never a reshuffling of the corpus.
    for (dir <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val docs = SparkEntry.t(spark, dir, "documents")
      val bits = graft.ops.Lm.unigramBits(docs, docs, "text", "doc_id")
      val exact = SparkEntry.queries("q_lm_bucket")(spark, dir)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val approx = graft.ops.Lm.perplexityBuckets(bits, "bits_per_token", exact = false)
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("bucket")).toMap
      assert(exact.keySet == approx.keySet)
      val moved = exact.count { case (id, b) => approx(id) != b }
      val tolerance = math.max(2, exact.size / 100) // <= 1% of docs
      assert(moved <= tolerance,
        s"$dir: $moved of ${exact.size} docs changed bucket (tolerance $tolerance)")
      // the driver row's agreement reshape (oracled, round 11) sees the
      // same verdict: per-bucket exact counts + the <= 1% bound as TRUE
      val rows = SparkEntry.queries("q_lm_bucket_approx")(spark, dir).collect()
      assert(rows.map(_.getAs[Long]("n_docs")).sum == exact.size)
      assert(rows.forall(_.getAs[Boolean]("moved_within_1pct")))
    }
  }

  test("HLL distinct-count meter stays within 3x the configured rsd at both SFs") {
    // the contract behind q_stats_approx_distinct: the driver row reports
    // the realized relative error of approx_count_distinct(rsd = 0.05)
    // per source; HLL++ error is ~normal with sd = rsd, so 3x is a
    // deterministic-given-the-data bound with wide margin (measured
    // <= 0.03 at both SFs). A breach means the sketch config changed.
    for (dir <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val docs = SparkEntry.t(spark, dir, "documents")
        .withColumn("digest", org.apache.spark.sql.functions.md5(
          org.apache.spark.sql.functions.col("text")))
      val raw = graft.ops.Stats.approxDistinct(docs, "digest", Seq("source"),
        rsd = 0.05).collect()
      assert(raw.length >= 2, s"$dir: expected per-source rows")
      for (r <- raw) {
        val err = r.getAs[Double]("rel_err")
        assert(err <= 0.15, s"$dir source ${r.get(0)}: rel_err $err above 3x rsd")
      }
      // the driver row's bound-check reshape (oracled, round 11) agrees
      val rows = SparkEntry.queries("q_stats_approx_distinct")(spark, dir).collect()
      assert(rows.length == raw.length)
      assert(rows.forall(_.getAs[Boolean]("within_bound")))
    }
  }
}
