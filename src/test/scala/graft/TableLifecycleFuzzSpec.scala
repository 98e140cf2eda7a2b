package graft

import org.apache.spark.sql.functions._
import scala.util.Random

import graft.tables.SnapshotTable

/** Randomized SnapshotTable maintenance fuzz: seeded random interleavings
  * of CoW merges, MoR merges, compaction, snapshot expiry, orphan removal
  * and ANALYZE, with two invariants checked after EVERY op:
  *
  *  1. `read()` equals an independent in-memory model (maintenance is
  *     INVISIBLE to readers — the directed SnapshotTableSpec cases pin
  *     each op once; this sweeps their compositions, e.g. compact right
  *     after a MoR merge, expiry before orphan removal, CoW over
  *     outstanding equality deletes);
  *  2. every file the current snapshot references exists on disk —
  *     expiry/orphan removal must never delete a live file.
  *
  * The model is version-max merge semantics restated independently (the
  * same rules CdcLifecycleModelSpec pins through the streaming path, here
  * driven at the table API layer where maintenance can interleave).
  */
class TableLifecycleFuzzSpec extends SparkSpec {
  import spark.implicits._

  private val keys = (0 until 30).map(i => f"key$i%03d")

  private def runSeed(seed: Int): Unit = {
    val rng = new Random(seed)
    var version = 10L
    val t = SnapshotTable(spark, tmpDir(s"tbl-fuzz-$seed"))

    // model: key -> (version, payload); absent = deleted/never inserted
    var model = Map.empty[String, (Long, String)]

    def randomBatch(): Seq[(String, Long, String, Boolean)] = {
      val n = 2 + rng.nextInt(6)
      val rows = (0 until n).map { _ =>
        val k = keys(rng.nextInt(keys.size))
        // 30% STALE version (at-or-below live versions — exercises the
        // update-if-newer rejection and the vs-target tie, where the
        // target must win); otherwise monotone
        val v = if (rng.nextInt(10) < 3) 1L + rng.nextLong(version)
        else { version += 1 + rng.nextInt(3); version }
        val del = rng.nextInt(5) == 0
        (k, v, if (del) null else s"p$v", del)
      }
      // per-key versions must be unique WITHIN a batch: an in-batch
      // same-key same-version pair resolves by a full-row struct tiebreak
      // the model deliberately does not restate
      rows.groupBy(r => (r._1, r._2)).map(_._2.head).toSeq
    }

    def applyModel(batch: Seq[(String, Long, String, Boolean)]): Unit = {
      // in-batch latest version wins, then update-if-newer vs the model
      batch.groupBy(_._1).foreach { case (k, rows) =>
        val w = rows.maxBy(_._2)
        val newer = model.get(k).forall(_._1 < w._2)
        if (newer) {
          if (w._4) model -= k else model += (k -> (w._2, w._3))
        }
      }
    }

    def checkInvariants(tag: String): Unit = {
      val actual = t.read().select($"arcane_merge_key", $"versionnumber", $"payload")
        .as[(String, Long, String)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      assert(actual == model, s"seed $seed after $tag:\n engine-only=" +
        s"${actual.toSet -- model.toSet}\n model-only=${model.toSet -- actual.toSet}")
      val snap = t.currentSnapshot
      val fs = new org.apache.hadoop.fs.Path(t.location)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      (snap.files.map(_.path) ++ snap.deletes.map(_.path)).foreach { p =>
        // adopted foreign files are referenced by ABSOLUTE uri; the
        // table's own files are relative to <location>/data
        val full = if (p.contains(":/") || p.startsWith("/")) new org.apache.hadoop.fs.Path(p)
          else new org.apache.hadoop.fs.Path(s"${t.location}/data/$p")
        assert(fs.exists(full),
          s"seed $seed after $tag: referenced file $p missing on disk")
      }
    }

    // bootstrap: createOrReplace writes rows verbatim (no in-batch dedup —
    // that is the STAGING layer's job), so key-unique the opening batch
    val first = randomBatch().filterNot(_._4)
      .groupBy(_._1).map(_._2.maxBy(_._2)).toSeq
    // versionnumber stats feed the manifest skipping index, so the final
    // range probes below exercise file pruning, not just the residual
    t.createOrReplace(
      first.toDF("arcane_merge_key", "versionnumber", "payload", "IsDelete"),
      "arcane_merge_key", numBuckets = 4,
      extraProps = Map(SnapshotTable.PropStatsColumns -> "versionnumber"))
    applyModel(first)
    checkInvariants("bootstrap")

    // External-writer ingestion mid-fuzz: a SIDE table's Delta export is
    // adopted (metadata-only — the foreign files join the manifest at
    // bucket −1), cross-checked by the independent Python validator, and
    // every later merge/compact must ABSORB the adopted files into the
    // bucket layout without the readers-exact invariant ever wobbling.
    // Adopted keys are disjoint from the merge keyset, so the model is
    // plain inserts.
    def adoptStep(step: Int): Unit = {
      val side = SnapshotTable(spark, tmpDir(s"tbl-fuzz-side-$seed-$step"))
      val rows = (0 until 3).map { i =>
        version += 1
        (f"adopt$step%02d-$i", version, s"a$version", false)
      }
      side.createOrReplace(
        rows.toDF("arcane_merge_key", "versionnumber", "payload", "IsDelete"),
        "arcane_merge_key", numBuckets = 2)
      val deltaDir = s"${side.location}-delta"
      side.exportDelta(deltaDir)
      if (pythonWithDuckdb) {
        val out = new StringBuilder
        val code = scala.sys.process.Process(
          Seq("python3", "tools/delta_validate.py", deltaDir,
            "--expect-rows", rows.size.toString))
          .!(scala.sys.process.ProcessLogger(l => { out.append(l); () }, _ => ()))
        assert(code == 0, s"seed $seed step $step: delta validator failed on side export: $out")
      }
      t.adoptDeltaTable(deltaDir)
      rows.foreach { case (k, v, p, _) => model += (k -> (v, p)) }
      checkInvariants(s"step$step:adopt-delta")
    }

    for (step <- 0 until 12) {
      rng.nextInt(7) match {
        case 0 | 1 =>
          val b = randomBatch()
          t.merge(b.toDF("arcane_merge_key", "versionnumber", "payload", "IsDelete"),
            "arcane_merge_key", "versionnumber", "IsDelete")
          applyModel(b)
          checkInvariants(s"step$step:merge-cow")
        case 2 | 3 =>
          val b = randomBatch()
          t.mergeOnRead(b.toDF("arcane_merge_key", "versionnumber", "payload", "IsDelete"),
            "arcane_merge_key", "versionnumber", "IsDelete")
          applyModel(b)
          checkInvariants(s"step$step:merge-mor")
        case 4 =>
          t.compact(fileSizeThresholdBytes = 512L * 1024 * 1024)
          checkInvariants(s"step$step:compact")
          // expiry + orphan removal with retention 0 — everything dead is fair game
          t.expireSnapshots(olderThanMs = 0L)
          checkInvariants(s"step$step:expire")
          t.removeOrphanFiles(olderThanMs = 0L)
          checkInvariants(s"step$step:orphans")
        case 5 =>
          t.analyze()
          checkInvariants(s"step$step:analyze")
        case 6 =>
          adoptStep(step)
      }
    }
    // every seed exercises the adopt → merge → compact absorption chain
    // at least once, whatever the random op draw produced
    adoptStep(99)
    val b = randomBatch()
    t.merge(b.toDF("arcane_merge_key", "versionnumber", "payload", "IsDelete"),
      "arcane_merge_key", "versionnumber", "IsDelete")
    applyModel(b)
    checkInvariants("post-adopt:merge-cow")
    t.compact(fileSizeThresholdBytes = 512L * 1024 * 1024)
    checkInvariants("post-adopt:compact")
    // Delta-leg PRUNED POINT LOOKUPS over the final fuzzed state: one
    // more MoR batch (outstanding deletes export as deletion vectors),
    // then each probed key resolves through readTableForKey — the
    // bucket-pruned path with DVs applied must agree with the model for
    // live, tombstoned and never-inserted keys alike.
    val b2 = randomBatch()
    t.mergeOnRead(b2.toDF("arcane_merge_key", "versionnumber", "payload", "IsDelete"),
      "arcane_merge_key", "versionnumber", "IsDelete")
    applyModel(b2)
    checkInvariants("final:merge-mor")
    // The same final state — outstanding deletes over an adopt → merge →
    // compact history — read back through all three readers: full scans,
    // pruned point lookups and manifest-pruned range scans must each
    // agree with the one model.
    val mainDelta = new org.apache.hadoop.fs.Path(s"${t.location}-delta-final")
    val mainIceberg = s"${t.location}-iceberg-final"
    t.exportDelta(mainDelta.toString)
    t.exportIceberg(mainIceberg)
    def rowsOf(df: org.apache.spark.sql.DataFrame): Map[String, (Long, String)] = {
      val rows = df.select($"arcane_merge_key", $"versionnumber", $"payload")
        .as[(String, Long, String)].collect()
      assert(rows.map(_._1).distinct.length == rows.length, s"seed $seed: duplicate keys in a read")
      rows.map(r => r._1 -> (r._2, r._3)).toMap
    }
    assert(rowsOf(graft.tables.IcebergExport.readTable(spark, mainIceberg)) == model,
      s"seed $seed: Iceberg readTable diverged from the model")
    assert(rowsOf(graft.tables.DeltaExport.readTable(spark, mainDelta)) == model,
      s"seed $seed: Delta readTable diverged from the model")
    val probe = rng.shuffle(keys).take(6) :+ "nosuchkey"
    probe.foreach { k =>
      val expected = model.get(k).map(k -> _).toMap
      assert(rowsOf(graft.tables.DeltaExport.readTableForKey(spark, mainDelta, k)) == expected,
        s"seed $seed Delta pruned lookup $k")
      assert(rowsOf(graft.tables.IcebergExport.readTableForKey(spark, mainIceberg, k)) == expected,
        s"seed $seed Iceberg pruned lookup $k")
    }
    val versions = model.values.map(_._1).toSeq.sorted
    val (lo, hi) = (versions(versions.size / 3).toDouble, versions(2 * versions.size / 3).toDouble)
    val inRange = model.filter { case (_, (v, _)) => v >= lo && v <= hi }
    assert(rowsOf(t.readRange("versionnumber", lo, hi)) == inRange,
      s"seed $seed: readRange [$lo, $hi] diverged from the model")
    assert(rowsOf(graft.tables.IcebergExport.readTableRange(spark, mainIceberg,
      "versionnumber", lo, hi)) == inRange,
      s"seed $seed: Iceberg readTableRange [$lo, $hi] diverged from the model")
  }

  private def pythonWithDuckdb: Boolean =
    scala.util.Try(scala.sys.process.Process(
      Seq("python3", "-c", "import duckdb")).! == 0).getOrElse(false)

  for (seed <- Seq(41, 42)) {
    test(s"random maintenance interleaving seed $seed keeps readers exact and files live") {
      runSeed(seed)
    }
  }
}
