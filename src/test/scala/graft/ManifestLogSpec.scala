package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import graft.operators.Versioned

/** The checkpointed manifest log: commits publish O(churn) DELTA
  * records chained to their parent's bytes, every Nth version (conf
  * `spark.graft.manifest.checkpointInterval`, default 10) publishes a
  * FULL record — the checkpoint — and an advisory `_last_checkpoint`
  * pointer tracks the newest one. Pins: record-shape cadence, fold
  * correctness for every cumulative field, vacuum's boundary
  * checkpoint sidecar, stats-in-manifest pruning with zero sidecar
  * I/O, and cache safety across table re-creation at one path. */
class ManifestLogSpec extends SparkSpec {
  import spark.implicits._

  private def tbl() = Files.createTempDirectory("graft-mlog").toString + "/t"

  private def raw(dir: String, v: Long): String =
    new String(Files.readAllBytes(Paths.get(s"$dir/_versions/v$v.json")), "UTF-8")

  private def isDelta(dir: String, v: Long): Boolean =
    raw(dir, v).startsWith("{\"delta\":")

  test("commits publish O(churn) delta records with periodic full checkpoints") {
    val dir = tbl()
    Versioned.commit((0L until 100L).toDF("id"), dir) // v0: full by definition
    (1 to 12).foreach(i =>
      Versioned.append((i * 100L until (i + 1) * 100L).toDF("id"), dir))
    assert(!isDelta(dir, 0L))
    (1L to 9L).foreach(v => assert(isDelta(dir, v), s"v$v should be a delta"))
    assert(!isDelta(dir, 10L), "v10 is the checkpoint slot — full record")
    assert(isDelta(dir, 11L) && isDelta(dir, 12L))
    // the delta is O(churn): one added group, not the 10+ accumulated
    assert(raw(dir, 9L).length < raw(dir, 10L).length / 2,
      s"delta v9 (${raw(dir, 9L).length} B) should be far smaller than " +
        s"checkpoint v10 (${raw(dir, 10L).length} B)")
    // resolution folds exactly: every version reads its full state
    (0L to 12L).foreach { v =>
      val m = Versioned.parseManifest(spark, dir, v)
      assert(m.files.size == v + 1, s"v$v files")
      assert(m.fileRows.keySet == m.files.toSet && m.fileRows.values.sum == (v + 1) * 100L,
        s"v$v fileRows")
      assert(m.nRows == (v + 1) * 100L)
      assert(Versioned.read(spark, dir, v).count() == (v + 1) * 100L)
    }
    // the advisory pointer tracks the newest full record
    assert(Versioned.lastCheckpoint(spark, dir) == Some(10L))
    // a COLD resolver (fresh cache) walks the chain correctly too
    Versioned.clearResolvedManifestCache()
    val m12 = Versioned.parseManifest(spark, dir, 12L)
    assert(m12.files.size == 13 && m12.nRows == 1300L)
  }

  test("delta records inherit schema/constraints/mapping and override on change") {
    val dir = tbl()
    Versioned.commit((0L until 50L).map(i => (i, i * 2)).toDF("id", "v"), dir) // v0
    Versioned.append((50L until 60L).map(i => (i, i * 2)).toDF("id", "v"), dir) // v1
    Versioned.renameColumn(spark, dir, "v", "val")                              // v2
    Versioned.addConstraint(spark, dir, "pos", "val >= 0")                      // v3
    Versioned.append((60L until 70L).map(i => (i, i * 2)).toDF("id", "val"), dir) // v4
    Versioned.dropConstraint(spark, dir, "pos")                                 // v5
    (1L to 5L).foreach(v => assert(isDelta(dir, v), s"v$v should be a delta"))
    val m3 = Versioned.parseManifest(spark, dir, 3L)
    assert(m3.constraints == Seq(("pos", "val >= 0")))
    val m4 = Versioned.parseManifest(spark, dir, 4L)
    assert(m4.constraints == Seq(("pos", "val >= 0")), "constraint carried through")
    assert(m4.mapping.nonEmpty, "rename mapping carried through the fold")
    assert(m4.schemaDdl.exists(_.contains("val")), "renamed schema carried")
    // changed-to-EMPTY overrides (never silently inherits the old set)
    val m5 = Versioned.parseManifest(spark, dir, 5L)
    assert(m5.constraints.isEmpty, s"drop must fold to empty: ${m5.constraints}")
    // reads see the logical rename at every version after v3
    assert(Versioned.read(spark, dir).columns.toSeq == Seq("id", "val"))
    assert(Versioned.read(spark, dir).count() == 70L)
    Versioned.clearResolvedManifestCache()
    assert(Versioned.parseManifest(spark, dir, 5L).constraints.isEmpty)
  }

  test("deltas carry DV set/drop; mutations fold exactly across the chain") {
    val dir = tbl()
    Versioned.commit((0L until 100L).toDF("id"), dir)
    Versioned.append((100L until 200L).toDF("id"), dir)
    spark.conf.set("spark.graft.dv.maxDeleteFraction", "0.5")
    try {
      Versioned.delete(spark, dir)(col("id") === 7L)  // v2: dv_set
      Versioned.delete(spark, dir)(col("id") === 8L)  // v3: dv_set (merged)
      val m3 = Versioned.parseManifest(spark, dir, 3L)
      assert(m3.dvs.map(_._3).sum == 2L)
      assert(isDelta(dir, 2L) && isDelta(dir, 3L))
      assert(raw(dir, 3L).contains("\"dv_set\":"))
      // a COW rewrite that materializes the vector away folds as
      // remove+add+dv drop
      spark.conf.set("spark.graft.dv.maxDeleteFraction", "0.0")
      Versioned.delete(spark, dir)(col("id") < 50L)   // v4: rewrite
      val m4 = Versioned.parseManifest(spark, dir, 4L)
      assert(m4.dvs.isEmpty, "rewrite materializes the vectors away")
      // 200 - {7,8} - {0..49 minus the 2 already gone} = 150
      assert(Versioned.read(spark, dir).count() == 150L)
      Versioned.clearResolvedManifestCache()
      assert(Versioned.read(spark, dir).count() == 150L)
    } finally spark.conf.unset("spark.graft.dv.maxDeleteFraction")
  }

  test("vacuum mid-chain leaves the boundary standalone-resolvable via its sidecar") {
    val dir = tbl()
    Versioned.commit((0L until 10L).toDF("id"), dir)
    (1 to 8).foreach(i =>
      Versioned.append((i * 10L until (i + 1) * 10L).toDF("id"), dir))
    assert(isDelta(dir, 5L), "precondition: the boundary is a delta record")
    val (dropped, _) = Versioned.vacuum(spark, dir, keepFrom = 5L)
    assert(dropped == 5L)
    assert(Files.exists(Paths.get(s"$dir/_versions/c5.json")),
      "vacuum must leave the boundary a checkpoint sidecar")
    // cold resolution: v5 resolves from the sidecar, children chain on
    Versioned.clearResolvedManifestCache()
    assert(Versioned.read(spark, dir, 5L).count() == 60L)
    assert(Versioned.read(spark, dir, 8L).count() == 90L)
    val m5 = Versioned.parseManifest(spark, dir, 5L)
    assert(m5.files.size == 6 && m5.fileRows.values.sum == 60L)
    intercept[java.io.FileNotFoundException] {
      Versioned.parseManifest(spark, dir, 3L)
    }
    // a SECOND vacuum deeper in drops the old sidecar with its version
    (9 to 11).foreach(i =>
      Versioned.append((i * 10L until (i + 1) * 10L).toDF("id"), dir))
    Versioned.vacuum(spark, dir, keepFrom = 7L)
    assert(!Files.exists(Paths.get(s"$dir/_versions/c5.json")))
    Versioned.clearResolvedManifestCache()
    assert(Versioned.read(spark, dir, 7L).count() == 80L)
    assert(Versioned.read(spark, dir).count() == 120L)
  }

  test("stats ride the manifest: pruned scans and mutations read no sidecars") {
    val dir = tbl()
    // disjoint id ranges per group — prunable by min/max
    Versioned.commit((0L until 100L).toDF("id"), dir)
    (1 to 3).foreach(i =>
      Versioned.append((i * 100L until (i + 1) * 100L).toDF("id"), dir))
    val m = Versioned.parseManifest(spark, dir, 3L)
    assert(m.fileStats.keySet == m.files.toSet,
      "every group's stats are embedded in the manifest")
    val before = graft.operators.GroupStats.readCount.get()
    val hit = Versioned.readWhere(spark, dir)(col("id") === 250L)
    assert(hit.count() == 1L)
    val reads = graft.operators.GroupStats.readCount.get() - before
    assert(reads == 0L, s"pruned scan on a fresh table read $reads sidecars")
    // the scan actually pruned: only the one matching group survives
    val before2 = graft.operators.GroupStats.readCount.get()
    val v = Versioned.delete(spark, dir)(col("id") === 150L)
    assert(graft.operators.GroupStats.readCount.get() - before2 == 0L,
      "mutation planning on a fresh table reads no sidecars")
    assert(Versioned.read(spark, dir, v).count() == 399L)
  }

  test("a table re-created at the same path never serves stale resolved state") {
    val dirRoot = Files.createTempDirectory("graft-mlog-recreate")
    val dir = dirRoot.toString + "/t"
    Versioned.commit((0L until 5L).toDF("id"), dir)
    Versioned.append((5L until 9L).toDF("id"), dir)
    assert(Versioned.parseManifest(spark, dir, 1L).nRows == 9L)
    // destroy and re-create a DIFFERENT table at the same path
    def rmrf(p: java.io.File): Unit = {
      Option(p.listFiles()).foreach(_.foreach(rmrf)); p.delete()
    }
    rmrf(new java.io.File(dir))
    Versioned.commit((0L until 3L).toDF("id"), dir)
    Versioned.append((3L until 7L).toDF("id"), dir)
    val m1 = Versioned.parseManifest(spark, dir, 1L)
    assert(m1.nRows == 7L, s"stale cache served the old incarnation: ${m1.nRows}")
    assert(Versioned.read(spark, dir).count() == 7L)
  }

  test("a tampered parent record fails the chain's hash pin closed") {
    val dir = tbl()
    Versioned.commit((0L until 10L).toDF("id"), dir)
    Versioned.append((10L until 20L).toDF("id"), dir)
    Versioned.append((20L until 30L).toDF("id"), dir)
    assert(isDelta(dir, 1L) && isDelta(dir, 2L))
    val p = Paths.get(s"$dir/_versions/v1.json")
    val orig = new String(Files.readAllBytes(p), "UTF-8")
    // flip one digit inside the record (still a complete JSON object)
    Files.write(p, orig.replaceFirst("\"n_rows\":20", "\"n_rows\":21")
      .getBytes("UTF-8"))
    Versioned.clearResolvedManifestCache()
    val e = intercept[IllegalStateException] {
      Versioned.parseManifest(spark, dir, 2L)
    }
    assert(e.getMessage.contains("hash"), e.getMessage)
    Files.write(p, orig.getBytes("UTF-8"))
    Versioned.clearResolvedManifestCache()
    assert(Versioned.parseManifest(spark, dir, 2L).nRows == 30L)
  }

  test("every record is standard JSON, whatever text a constraint carries") {
    val dir = tbl()
    val expr = "id >= 0\n\tAND note <> 'a\"b\\\\c é'"
    spark.conf.set("spark.graft.manifest.checkpointInterval", "3")
    try {
      def rows(lo: Long, hi: Long) = (lo until hi).map(i => (i, s"n$i")).toDF("id", "note")
      // every record file present now parses with the STRICT parser,
      // which raises on a raw control character inside a string
      def strictRecords(): Set[String] =
        new java.io.File(s"$dir/_versions").listFiles().map(_.getName)
          .filter(_.matches("[vc]\\d+\\.json|_last_checkpoint")).map { n =>
            org.json4s.jackson.JsonMethods.parse(new String(
              Files.readAllBytes(Paths.get(s"$dir/_versions/$n")), "UTF-8"))
            n
          }.toSet
      Versioned.commit(rows(0L, 10L), dir)                        // v0: full
      Versioned.addConstraint(spark, dir, "odd", expr)            // v1: delta
      (2 to 5).foreach(i => Versioned.append(rows(i * 10L, i * 10L + 10L), dir)) // v3 full
      assert(isDelta(dir, 1L) && !isDelta(dir, 3L) && isDelta(dir, 5L))
      val before = strictRecords()
      Versioned.vacuum(spark, dir, keepFrom = 5L)                 // writes c5.json
      Versioned.addConstraint(spark, dir, "small", "id < 1000")   // v6: delta
      val checked = before ++ strictRecords()
      assert(Set("v1.json", "v3.json", "c5.json", "v6.json", "_last_checkpoint")
        .subsetOf(checked), checked)
      Versioned.clearResolvedManifestCache()
      assert(Versioned.constraints(spark, dir) == Seq("odd" -> expr, "small" -> "id < 1000"))
      assert(Versioned.parseManifest(spark, dir, 5L).constraints == Seq("odd" -> expr))
      // the latest record as the codec's predecessor wrote it: control
      // characters raw inside strings — still resolves to the same state
      val m6 = Versioned.parseManifest(spark, dir, 6L)
      val legacy = raw(dir, 6L).replace("\\n", "\n").replace("\\t", "\t")
      assert(legacy.contains("\n\tAND") && legacy != raw(dir, 6L))
      intercept[Exception](org.json4s.jackson.JsonMethods.parse(legacy))
      Files.write(Paths.get(s"$dir/_versions/v6.json"), legacy.getBytes("UTF-8"))
      Versioned.clearResolvedManifestCache()
      assert(Versioned.parseManifest(spark, dir, 6L) == m6)
      assert(Versioned.read(spark, dir).count() == 50L)
    } finally spark.conf.unset("spark.graft.manifest.checkpointInterval")
  }

  test("the record format is unchanged: earlier records decode and re-encode byte for byte") {
    import graft.operators.ManifestCodec
    import graft.operators.Versioned.Manifest
    // v4 (full) and v5 (delta) of one table, as written before the
    // codec existed: commit, rename note -> memo, add a constraint, DV
    // delete, appendOnce at checkpoint slot 4, then a DV update
    val fullRecord =
      """{"version":4,"mode":"append","files":["8902cf1d-941b-41e5-8421-a90f09f37c54",""" +
        """"1b292476-e003-45d3-b927-abf2cbdb1f50"],"n_rows":9,""" +
        """"committed_at":"2026-10-18T19:23:55.629022971Z","file_rows":["8","2"],""" +
        """"file_stats":["1b292476-e003-45d3-b927-abf2cbdb1f50","{\"n_rows\":2,\"cols\":""" +
        """{\"id\":{\"t\":\"long\",\"min\":8,\"max\":9,\"nulls\":0},\"note\":{\"t\":""" +
        """\"string\",\"min\":\"n8\",\"max\":\"n9\",\"nulls\":0}}}",""" +
        """"8902cf1d-941b-41e5-8421-a90f09f37c54","{\"n_rows\":8,\"cols\":{\"id\":""" +
        """{\"t\":\"long\",\"min\":0,\"max\":7,\"nulls\":0},\"note\":{\"t\":\"string\",""" +
        """\"min\":\"n0\",\"max\":\"n7\",\"nulls\":0}}}"],"txn_app":"ingest","txn_batch":7,""" +
        """"schema":"id BIGINT,memo STRING","constraints":["pos","id >= 0"],""" +
        """"mapping":["id","id","memo","note"],"dvs":["8902cf1d-941b-41e5-8421-a90f09f37c54",""" +
        """"dv-d871310b-f77a-4b47-93ad-22236e17ef12","1"]}"""
    val deltaRecord =
      """{"delta":1,"version":5,"parent":4,"parent_hash":"2904849240880233539",""" +
        """"mode":"update","n_rows":9,"committed_at":"2026-10-18T19:23:58.553426474Z",""" +
        """"add_files":["563fcbfd-f3b4-49d3-9bf3-69886f74a19a"],"add_file_rows":["1"],""" +
        """"add_file_stats":["563fcbfd-f3b4-49d3-9bf3-69886f74a19a","{\"n_rows\":1,""" +
        """\"cols\":{\"id\":{\"t\":\"long\",\"min\":2,\"max\":2,\"nulls\":0},\"note\":""" +
        """{\"t\":\"string\",\"min\":\"two\",\"max\":\"two\",\"nulls\":0}}}"],""" +
        """"dv_set":["8902cf1d-941b-41e5-8421-a90f09f37c54",""" +
        """"dv-49d8ca0c-edd8-43df-8978-161f7d845eb2","2"],""" +
        """"copies":["563fcbfd-f3b4-49d3-9bf3-69886f74a19a"]}"""
    val (g0, g1, g2) = ("8902cf1d-941b-41e5-8421-a90f09f37c54",
      "1b292476-e003-45d3-b927-abf2cbdb1f50", "563fcbfd-f3b4-49d3-9bf3-69886f74a19a")
    def stats(n: Int, lo: Int, hi: Int, slo: String, shi: String) =
      s"""{"n_rows":$n,"cols":{"id":{"t":"long","min":$lo,"max":$hi,"nulls":0},""" +
        s""""note":{"t":"string","min":"$slo","max":"$shi","nulls":0}}}"""
    val m4 = Manifest(Seq(g0, g1), 9L, "append", "2026-10-18T19:23:55.629022971Z",
      txn = Some(("ingest", 7L)), schemaDdl = Some("id BIGINT,memo STRING"),
      constraints = Seq("pos" -> "id >= 0"), mapping = Seq("id" -> "id", "memo" -> "note"),
      dvs = Seq((g0, "dv-d871310b-f77a-4b47-93ad-22236e17ef12", 1L)),
      fileRows = Map(g0 -> 8L, g1 -> 2L),
      fileStats = Map(g0 -> stats(8, 0, 7, "n0", "n7"), g1 -> stats(2, 8, 9, "n8", "n9")))
    val m5 = m4.copy(files = Seq(g0, g1, g2), mode = "update",
      committedAt = "2026-10-18T19:23:58.553426474Z", txn = None,
      dvs = Seq((g0, "dv-49d8ca0c-edd8-43df-8978-161f7d845eb2", 2L)),
      fileRows = m4.fileRows + (g2 -> 1L), copies = Seq(g2),
      fileStats = m4.fileStats + (g2 -> stats(1, 2, 2, "two", "two")))
    val fullJ = ManifestCodec.parse(fullRecord, "v4")
    val deltaJ = ManifestCodec.parse(deltaRecord, "v5")
    assert(!ManifestCodec.isDelta(fullJ) && ManifestCodec.isDelta(deltaJ))
    assert(ManifestCodec.decodeFull(fullJ, "v4") == m4)
    assert(ManifestCodec.parentRef(deltaJ, "v5") == ((4L, 2904849240880233539L)))
    assert(ManifestCodec.foldDelta(m4, deltaJ) == m5)
    assert(ManifestCodec.encodeFull(4L, m4) == fullRecord)
    assert(ManifestCodec.encodeDelta(5L, 2904849240880233539L, m4, m5) == deltaRecord)
    // through the resolver: the delta's parent_hash pin still matches
    // the full record's bytes
    val dir = tbl()
    Files.createDirectories(Paths.get(s"$dir/_versions"))
    Files.write(Paths.get(s"$dir/_versions/v4.json"), fullRecord.getBytes("UTF-8"))
    Files.write(Paths.get(s"$dir/_versions/v5.json"), deltaRecord.getBytes("UTF-8"))
    assert(Versioned.parseManifest(spark, dir, 5L) == m5)
    // a key present with the wrong JSON type fails closed, never "absent"
    val nullFiles = fullRecord.replaceFirst("\"files\":\\[[^\\]]*\\]", "\"files\":null")
    assert(nullFiles.contains("\"files\":null"))
    intercept[IllegalStateException](
      ManifestCodec.decodeFull(ManifestCodec.parse(nullFiles, "v4"), "v4"))
    // so does a pair or triple array with a ragged tail
    val raggedDvs = fullRecord.replace(""","1"]}""", "]}")
    assert(raggedDvs != fullRecord)
    intercept[IllegalStateException](
      ManifestCodec.decodeFull(ManifestCodec.parse(raggedDvs, "v4"), "v4"))
  }

  test("checkpointInterval=1 restores full-record-per-commit behavior") {
    val dir = tbl()
    spark.conf.set("spark.graft.manifest.checkpointInterval", "1")
    try {
      Versioned.commit((0L until 10L).toDF("id"), dir)
      (1 to 3).foreach(i =>
        Versioned.append((i * 10L until (i + 1) * 10L).toDF("id"), dir))
      (0L to 3L).foreach(v => assert(!isDelta(dir, v), s"v$v must be full"))
      assert(Versioned.lastCheckpoint(spark, dir) == Some(3L))
      assert(Versioned.read(spark, dir).count() == 40L)
    } finally spark.conf.unset("spark.graft.manifest.checkpointInterval")
  }
}
