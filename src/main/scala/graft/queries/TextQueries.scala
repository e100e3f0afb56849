package graft.queries

import graft.functions.TextFunctions
import graft.functions.TextFunctions._
import graft.operators.{Similarity, TextDedup, TextRetrieval}
import graft.sources.Fixtures.{table => t}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data-pipeline query catalog (the brief's dedup /
  * similarity / text-analysis operators) over `documents` and
  * `embeddings`.
  *
  * Oracle-compatible hashing: every hash that must agree with DuckDB
  * is md5-over-strings (identical hex output in both engines); the
  * production path uses xxhash64 (see TextFunctions docs).
  */
object TextQueries {

  /** At-rest reference near-dup index (VERDICT-r8 #4): the
    * [[TextDedup.nearDupIndex]] band and shingle relations for the
    * q123/q125 reference slice (doc_id % 7 < 3), WRITTEN ONCE per
    * fixture as BUCKETED tables (band / shingle keys — the layout
    * `Plans bucketed_neardup_demo` proves co-locates the candidate
    * join with zero reference-side shuffle) and re-read from the
    * warehouse on every later call. Table names carry a fingerprint
    * of the fixture files, so regenerated testdata can never silently
    * reuse a stale index. Returns (bands, shingles) as catalog-table
    * reads — AT-REST state that survives the bench's cache sweep,
    * which is the point: q128's cold samples after the first measure
    * the true incremental-crawl cost with the index build amortized,
    * exactly as a production pipeline amortizes it across crawls. */
  private def amortizedRefIndex(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val key = fixtureKey(dir)
    val bandsTbl = s"graft_ndx_bands_$key"
    val shTbl = s"graft_ndx_shingles_$key"
    def missing = !s.catalog.tableExists(bandsTbl) || !s.catalog.tableExists(shTbl)
    if (missing) synchronized {
      if (missing) {
        lazy val built = {
          val ref = t(s, dir, "documents").filter(col("doc_id") % 7 < 3)
          TextDedup.nearDupIndex(ref, md5Hashes = true)
        }
        // the build's holds go when both tables are written
        graft.model.RelCache.scope {
          ensureTable(s, bandsTbl, key, Some((8, "band")), validateCount = true)(built._1)
          ensureTable(s, shTbl, key, Some((8, "s")), validateCount = true)(built._2)
        }
      }
    }
    (s.table(bandsTbl), s.table(shTbl))
  }

  /** Bump when ANY amortized operator's semantics change: the at-rest
    * artifacts persist across sessions now, and a stale-SEMANTICS
    * table (same fixture, older operator code) reused silently would
    * be exactly the q142-class hash flake this machinery exists to
    * prevent. The fixture hash in the table name guards data
    * staleness; this guards code staleness. */
  private val atRestVersion = 1

  /** Cross-session at-rest registration (VERDICT r10 #3): ensure
    * `tbl` exists in the session catalog, WITHOUT rebuilding when a
    * previous session already built it. The in-memory catalog is
    * session-scoped but the warehouse directory is not — every
    * amortized table used to be rebuilt per session, making the
    * "written ONCE per fixture" production claim within-session only.
    *
    * Protocol: a `_graft_complete.json` marker (invisible to Spark's
    * file index — underscore prefix) is written as the LAST step of a
    * successful build, carrying the schema DDL, the bucket spec and
    * [[atRestVersion]]. A later session finding the marker issues
    * `CREATE TABLE ... USING parquet [CLUSTERED BY ...] LOCATION ...`
    * — re-declaring the bucketing DDL over the existing files, so
    * bucketed joins keep their zero-exchange co-location — and never
    * touches the data files (a second Verify session leaves mtimes
    * unchanged). No marker, version drift, or schema drift → sweep
    * and rebuild, exactly as before.
    *
    * `validateCount` (q142 gate armor, VERDICT r10 #1): after a
    * build, re-read the table and require its row count to equal the
    * built relation's — a partial/invisible CTAS under the 4-thread
    * Verify pool would be NAMED here instead of surfacing as an
    * unexplained hash mismatch downstream. Enabled for the dedup
    * index families, whose build relations are RelCache-persisted
    * (the recount is a cache hit, not a recompute). */
  private def ensureTable(s: SparkSession, tbl: String, key: String,
      bucket: Option[(Int, String)], validateCount: Boolean = false)(
      build: => DataFrame): Unit =
    try ensureTableOnce(s, tbl, key, bucket, validateCount)(build)
    catch {
      // bounded publish-back endgame (ADVICE r16): a generation whose
      // marker is PERSISTENTLY unreadable used to wedge the table —
      // every claimer restored it (publish-back), rebuilt, lost the
      // publish rename to the restored dir, polled 60 s, and threw;
      // no process ever deleted the dir. One retry closes the cycle:
      // the publish-back ledger below marks this path as already
      // restored once, so the retry's claim treats a STILL-unreadable
      // marker as invalid (≥60 s of failed reads across two claims is
      // no longer "transient"), deletes it, and rebuilds into the
      // cleared path.
      case e: IllegalStateException
          if e.getMessage != null &&
            e.getMessage.contains("no readable marker") =>
        ensureTableOnce(s, tbl, key, bucket, validateCount)(build)
    }

  /** Process-local count of publish-backs per live table path: how
    * many times THIS process restored a claimed-aside generation whose
    * marker was unreadable (transient-fault conservatism, ADVICE r15).
    * A path already restored once that comes back unreadable on a
    * SECOND claim is deemed invalid and deleted — the bound that keeps
    * a genuinely corrupt generation from wedging the table forever
    * (ADVICE r16). Worst case for a false positive (two independent
    * transient faults against the same path in one process lifetime)
    * is one redundant rebuild, never a correctness fault. */
  private val publishBacks =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  private def ensureTableOnce(s: SparkSession, tbl: String, key: String,
      bucket: Option[(Int, String)], validateCount: Boolean = false)(
      build: => DataFrame): Unit = {
    if (s.catalog.tableExists(tbl)) return
    val wh = new org.apache.hadoop.fs.Path(s.sessionState.conf.warehousePath)
    val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
    val dir = new org.apache.hadoop.fs.Path(wh, tbl.toLowerCase)
    val marker = new org.apache.hadoop.fs.Path(dir, "_graft_complete.json")
    def readMarker(): Option[(Int, String)] =
      try {
        val in = fs.open(marker)
        val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        val v = """"v"\s*:\s*(\d+)""".r.findFirstMatchIn(txt).map(_.group(1).toInt)
        val ddl = """"ddl"\s*:\s*"((?:[^"\\]|\\.)*)"""".r.findFirstMatchIn(txt)
          .map(_.group(1).replace("\\\"", "\"").replace("\\\\", "\\"))
        for (vv <- v; dd <- ddl) yield (vv, dd)
      } catch { case _: Throwable => None }
    def register(ddl: String, countReg: Boolean): Unit = {
      // in-JVM insurance: unsynchronized concurrent callers (the
      // amortized wrappers serialize, but ensureTable itself makes no
      // such promise) may both reach CREATE TABLE — the second is a
      // benign duplicate, not a failure
      if (s.catalog.tableExists(tbl)) return
      val cluster = bucket.map { case (n, k) =>
        s"CLUSTERED BY ($k) SORTED BY ($k) INTO $n BUCKETS" }.getOrElse("")
      try s.sql(s"CREATE TABLE $tbl ($ddl) USING parquet $cluster " +
        s"LOCATION '${dir.toString}'")
      catch { case e: Throwable if s.catalog.tableExists(tbl) => return }
      // counted so fresh-catalog gates can assert the marker
      // re-registration branch RAN (ADVICE r11: the shared external
      // catalog made the old session-2 spec pass without ever
      // reaching this code); a build WINNER's self-registration does
      // NOT count — the meter separates serving an existing
      // generation from publishing a new one
      if (countReg) graft.model.BuildMeter.addReg()
    }
    readMarker() match {
      case Some((v, ddl)) if v == atRestVersion => register(ddl, countReg = true)
      case _ =>
        val t0 = System.nanoTime()
        val nonce = java.lang.ProcessHandle.current().pid() + "_" +
          java.lang.Long.toHexString(System.nanoTime())
        // sweep SIBLING generations and crashed temps only — never the
        // current key's dir: that one is handled below under a marker
        // RE-CHECK plus an ATOMIC CLAIM (ADVICE r14): with two racers,
        // "observed invalid stays invalid until we delete it" holds,
        // but with three+ a second claimer can delete the invalid dir
        // and a winner can publish a VALID generation at this path
        // between our re-check and a direct delete — so the delete is
        // now exclusive: rename the invalid dir aside (atomic; only
        // one process can win it) and delete the renamed dir, never
        // the live path. The aside name is a publish-protocol temp
        // (`__graftbuild_`), so a crash between rename and delete
        // leaves a dir the retention sweeps already collect.
        freshPath(s, tbl, key)
        readMarker() match {
          case Some((v, ddl)) if v == atRestVersion =>
            register(ddl, countReg = true); return
          case _ =>
            if (fs.exists(dir)) {
              // distinct from the build temp's name (nonce + "c", still
              // hex) so the claim dir and this process's later CTAS
              // temp can never alias
              val aside = new org.apache.hadoop.fs.Path(wh,
                s"${tbl.toLowerCase}__graftbuild_${nonce}c")
              val claimed =
                try {
                  org.apache.hadoop.fs.FileContext.getFileContext(dir.toUri,
                      s.sparkContext.hadoopConfiguration)
                    .rename(dir, aside)
                  true
                } catch { case _: Throwable => false }
              if (claimed) {
                // the claim itself can race a publish: if the renamed
                // dir holds a VALID generation (published between the
                // re-check and our rename), put it back — or, when yet
                // another winner refilled the path meanwhile, drop our
                // copy and serve theirs (publish deletes the temp on a
                // lost rename). The marker read distinguishes
                // GENUINELY ABSENT/STALE (FileNotFound, or a readable
                // marker at the wrong version → the dir really is an
                // invalid generation → delete) from a TRANSIENT read
                // fault (any other IO error → retry once, and on
                // persistent failure PUBLISH THE ASIDE BACK): deleting
                // on an unreadable marker would silently destroy a
                // just-published valid generation (ADVICE r15) —
                // publish-back is the conservative move, since an
                // actually-invalid restored dir only costs this
                // process its rebuild-and-lose-the-rename path, never
                // correctness.
                def asideState(): Int = // 0 valid · 1 invalid · 2 unreadable
                  try {
                    val in = fs.open(new org.apache.hadoop.fs.Path(
                      aside, "_graft_complete.json"))
                    val txt = try scala.io.Source
                      .fromInputStream(in, "UTF-8").mkString finally in.close()
                    if (""""v"\s*:\s*(\d+)""".r.findFirstMatchIn(txt)
                        .map(_.group(1).toInt).contains(atRestVersion)) 0 else 1
                  } catch {
                    case _: java.io.FileNotFoundException => 1
                    case _: Throwable => 2
                  }
                var st = asideState()
                if (st == 2) st = asideState()
                // second unreadable claim of the SAME path in this
                // process: the first publish-back plus the lost-rename
                // poll already gave the marker ~60 s of reads — treat
                // the generation as invalid rather than wedge forever
                // (ADVICE r16; the ensureTable wrapper retries into
                // this branch)
                if (st == 2 && publishBacks
                    .getOrDefault(dir.toString, Integer.valueOf(0))
                    .intValue >= 1)
                  st = 1
                if (st == 1) fs.delete(aside, true)
                else {
                  if (st == 2)
                    publishBacks.merge(dir.toString, Integer.valueOf(1),
                      (a, b) => Integer.valueOf(a.intValue + b.intValue))
                  graft.model.AtRest.publish(s, aside, dir)
                }
              }
              // whichever way the claim went, a valid generation may
              // now sit at the path — serve it instead of rebuilding
              readMarker() match {
                case Some((v2, ddl2)) if v2 == atRestVersion =>
                  register(ddl2, countReg = true); return
                case _ => ()
              }
            }
        }
        // CROSS-PROCESS build protocol (VERDICT r13 #5): build into a
        // process-private temp TABLE (bucketBy is only writable via
        // saveAsTable), write the marker INSIDE the temp dir as the
        // build's last step, detach the temp catalog entry, then
        // atomically RENAME temp → final (AtRest.publish). The final
        // dir can therefore only ever appear complete-with-marker:
        // two processes racing the same missing fixture produce one
        // winner (rename claims the dir) and one loser (rename fails,
        // temp deleted, winner's generation served). In-JVM callers
        // still serialize through the amortized wrappers'
        // `synchronized`; this closes the two-JVM write side whose
        // read side the fresh-JVM session-2 leg already exercises.
        val tmpTbl = s"${tbl}__graftbuild_$nonce"
        val tmpDir = new org.apache.hadoop.fs.Path(wh, tmpTbl.toLowerCase)
        val df = build
        val w = df.write.format("parquet").mode("overwrite")
        bucket.fold(w) { case (n, k) => w.bucketBy(n, k).sortBy(k) }
          .saveAsTable(tmpTbl)
        val nBuilt = if (validateCount) df.count() else -1L
        val ddlEsc = df.schema.toDDL.replace("\\", "\\\\").replace("\"", "\\\"")
        val out = fs.create(
          new org.apache.hadoop.fs.Path(tmpDir, "_graft_complete.json"), true)
        try out.write(
          s"""{"v":$atRestVersion,"table":"$tbl","ddl":"$ddlEsc"}"""
            .getBytes("UTF-8"))
        finally out.close()
        // detach the temp catalog entry WITHOUT deleting its files
        // (InMemoryCatalog.dropTable deletes a MANAGED table's dir)
        locally {
          val cat = s.sessionState.catalog
          val ext = cat.externalCatalog
          val db = cat.getCurrentDatabase
          val tn = tmpTbl.toLowerCase
          if (ext.tableExists(db, tn)) {
            val ct = ext.getTable(db, tn)
            if (ct.tableType ==
                org.apache.spark.sql.catalyst.catalog.CatalogTableType.MANAGED)
              ext.alterTable(ct.copy(tableType =
                org.apache.spark.sql.catalyst.catalog.CatalogTableType.EXTERNAL))
            s.sql(s"DROP TABLE IF EXISTS `$db`.`$tn`")
          }
        }
        val won = graft.model.AtRest.publish(s, tmpDir, dir)
        if (won) graft.model.BuildMeter.addPublishWin()
        else graft.model.BuildMeter.addPublishLoss()
        // loser: the winner's rename is atomic but its marker may land
        // an instant after our failed rename observed the dir — poll
        // briefly, then serve the winner's generation
        var m = readMarker()
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (m.isEmpty && System.nanoTime() < deadline) {
          Thread.sleep(100); m = readMarker()
        }
        m match {
          case Some((v, ddl)) if v == atRestVersion =>
            register(ddl, countReg = !won)
          case _ => throw new IllegalStateException(
            s"at-rest publish of $tbl yielded no readable marker " +
              s"(won=$won) — winner crashed mid-publish or version drift")
        }
        if (validateCount) {
          val nRead = s.table(tbl).count()
          require(nBuilt == nRead, s"at-rest build of $tbl is inconsistent: " +
            (if (won) s"built $nBuilt rows, table reads $nRead — CTAS visibility fault"
             else s"this process built $nBuilt rows but the race winner's " +
               s"generation reads $nRead — non-deterministic build"))
        }
        // the build branch's wall counts as build time only when this
        // process actually published; a losing build is recorded via
        // publishLosses, not as amortizable build cost
        if (won) graft.model.BuildMeter.add(System.nanoTime() - t0)
    }
  }

  /** Fingerprint of the fixture's document files — at-rest table names
    * carry it so regenerated testdata can never silently reuse a stale
    * artifact. The sanitized DIRECTORY name is prepended so different
    * fixtures (sf0.01 vs sf0.1) occupy disjoint table-name prefixes:
    * the generation sweep in [[freshPath]] must only ever delete stale
    * generations of the SAME fixture, never another fixture's live
    * index (a session alternating SFs would otherwise find its
    * still-registered tables' files gone). */
  private def fixtureKey(dir: String, table: String = "documents"): String =
    graft.model.AtRest.fixtureKey(dir, table)

  /** The in-memory catalog is session-scoped but the warehouse dir is
    * not: clear stale files from an earlier session so a bucketed CTAS
    * never mixes layouts. Sweeps SIBLING GENERATIONS too (same prefix
    * incl. the fixture-dir tag, different content hash) — without it
    * every testdata regeneration orphans the previous generation's
    * directories forever (ADVICE r9); the dir tag in [[fixtureKey]]
    * keeps other fixtures' live tables out of the sweep's reach. */
  private def freshPath(s: SparkSession, table: String, key: String): Unit = {
    val wh = new org.apache.hadoop.fs.Path(s.sessionState.conf.warehousePath)
    val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
    val prefix = table.toLowerCase.stripSuffix(key.substring(key.lastIndexOf('_') + 1))
    val self = table.toLowerCase
    if (fs.exists(wh)) fs.listStatus(wh).foreach { st =>
      val n = st.getPath.getName
      // skip another process's IN-FLIGHT build temp (same prefix,
      // `__graftbuild_<pid>_<hex>` suffix — structural match, so a
      // sanitized fixture tag can't collide) — deleting it mid-write
      // would corrupt that process's publish; temps older than an
      // hour are crashed builds, swept like any stale generation.
      // The CURRENT key's dir is also skipped: ensureTable deletes it
      // itself under a marker re-check (publish-race safety).
      val isTemp = graft.model.AtRest.buildTempRe.findFirstIn(n).isDefined
      // tree-newest mtime, not the dir's (ADVICE r14): a long in-flight
      // build's top-level mtime goes stale while its task files churn
      val staleTemp = isTemp && graft.model.AtRest.newestMtime(fs, st) <
        System.currentTimeMillis() - 3600L * 1000
      if (n.startsWith(prefix) && n != self && (!isTemp || staleTemp))
        fs.delete(st.getPath, true)
    }
  }

  /** Cross-process write-race probe (VERDICT r13 #5): ensure a small
    * dedicated at-rest table through the full publish protocol
    * (build → temp CTAS → marker → atomic rename) and return a
    * one-line JSON receipt — row count, order-insensitive checksum,
    * and the BuildMeter counters — for `tools/RaceCheck`'s
    * invariants: across N racing processes exactly one publish WINS,
    * every loser serves the winner's generation, and all receipts
    * carry identical data. */
  def raceProbe(s: SparkSession, dir: String): String = {
    val key = fixtureKey(dir)
    val tbl = s"graft_race_$key"
    ensureTable(s, tbl, key, Some((4, "doc_id")), validateCount = true) {
      t(s, dir, "documents").filter(col("doc_id") % 11 === 0)
        .select(col("doc_id"), col("n_chars"))
    }
    // bit_xor, not sum: order-insensitive AND overflow-free under the
    // ANSI arithmetic Spark 4 defaults to
    val row = s.table(tbl).agg(
      count(lit(1)).as("n"),
      expr("bit_xor(xxhash64(doc_id, n_chars))").as("chk")).head()
    s"""{"count":${row.getLong(0)},"chk":${row.getLong(1)},""" +
      s""""builds":${graft.model.BuildMeter.count},""" +
      s""""regs":${graft.model.BuildMeter.regCount},""" +
      s""""wins":${graft.model.BuildMeter.publishWins},""" +
      s""""losses":${graft.model.BuildMeter.publishLosses}}"""
  }

  /** At-rest WINNOWED-fingerprint index (VERDICT-r9 #4): the
    * [[TextDedup.winnowIndex]] relations for the q123/q128 reference
    * slice (doc_id % 7 < 3) — fingerprints BUCKETED by hash (the
    * hash-keyed containment join co-locates with zero reference-side
    * shuffle, the `bucketed_neardup_demo` layout argument on the `h`
    * key) plus the doc-grain size relation, both written ONCE per
    * fixture and re-read from the warehouse on every later call. The
    * MOSS/containment analogue of [[amortizedRefIndex]]. */
  private def amortizedWinnowIndex(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val key = fixtureKey(dir)
    val fpTbl = s"graft_wfp_$key"
    val szTbl = s"graft_wsz_$key"
    def missing = !s.catalog.tableExists(fpTbl) || !s.catalog.tableExists(szTbl)
    if (missing) synchronized {
      if (missing) {
        lazy val built = {
          val ref = t(s, dir, "documents").filter(col("doc_id") % 7 < 3)
          TextDedup.winnowIndex(ref, k = 4, window = 4, md5Hashes = true)
        }
        graft.model.RelCache.scope {
          ensureTable(s, fpTbl, key, Some((8, "h")), validateCount = true)(built._1)
          ensureTable(s, szTbl, key, None, validateCount = true)(built._2)
        }
      }
    }
    (s.table(fpTbl), s.table(szTbl))
  }

  /** At-rest COMPACTED-GENERATION winnow index (round 12, the q169
    * verb driven through the warehouse): the delete→compact chain
    * WRITTEN BACK as a new bucketed generation — the "rewrite the
    * bucketed tables" the compaction contract promises, exercised for
    * real rather than argued. Derived from the at-rest generation-0
    * index ([[amortizedWinnowIndex]]): the takedown batch
    * (ref docs with doc_id % 11 = 0) anti-joins out, the survivor
    * relation re-caps at dfCap = 1 (q169's binding cap), the size
    * table rebuilds from the survivor relation; both land through the
    * same marker protocol as generation 0 (h-bucketed fingerprints +
    * doc-grain sizes, build-complete marker last), so a later session
    * re-registers the COMPACTED generation instead of re-compacting.
    * q171 serves a crawl from these tables and shares q169's oracle:
    * the whole chain is deterministic, so the store/re-read round
    * trip is hash-gated, not argued (the q150 pattern). */
  private def amortizedCompactedWinnowIndex(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val key = fixtureKey(dir)
    val fpTbl = s"graft_wfc_$key"
    val szTbl = s"graft_wsc_$key"
    def missing = !s.catalog.tableExists(fpTbl) || !s.catalog.tableExists(szTbl)
    if (missing) synchronized {
      if (missing) {
        lazy val built = {
          val (fp0, sz0) = amortizedWinnowIndex(s, dir)
          val takedown = t(s, dir, "documents")
            .filter(col("doc_id") % 7 < 3 && col("doc_id") % 11 === 0)
            .select("doc_id")
          val (fp1, _) = TextDedup.winnowIndexDelete(fp0, sz0, takedown)
          TextDedup.winnowIndexCompact(fp1, dfCap = 1)
        }
        graft.model.RelCache.scope {
          ensureTable(s, fpTbl, key, Some((8, "h")), validateCount = true)(built._1)
          ensureTable(s, szTbl, key, None, validateCount = true)(built._2)
        }
      }
    }
    (s.table(fpTbl), s.table(szTbl))
  }

  /** At-rest COMPACTED-GENERATION near-dup index —
    * [[amortizedCompactedWinnowIndex]]'s twin on the MinHash family
    * (the q170 chain through the warehouse): the generation-0 at-rest
    * index ([[amortizedRefIndex]] — only its shingle relation is
    * needed; bands re-derive) loses the takedown batch, re-caps at
    * dfCap = 1, and the RE-DERIVED band + shingle relations land as a
    * new bucketed generation under the marker protocol. q172 serves a
    * crawl from the re-read tables and shares q170's oracle. */
  private def amortizedCompactedRefIndex(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val key = fixtureKey(dir)
    val bandsTbl = s"graft_ndc_bands_$key"
    val shTbl = s"graft_ndc_shingles_$key"
    def missing = !s.catalog.tableExists(bandsTbl) || !s.catalog.tableExists(shTbl)
    if (missing) synchronized {
      if (missing) {
        lazy val built = {
          val (bands0, sh0) = amortizedRefIndex(s, dir)
          val takedown = t(s, dir, "documents")
            .filter(col("doc_id") % 7 < 3 && col("doc_id") % 11 === 0)
            .select("doc_id")
          val (_, sh1) = TextDedup.nearDupIndexDelete(bands0, sh0, takedown)
          TextDedup.nearDupIndexCompact(sh1, md5Hashes = true, dfCap = 1)
        }
        graft.model.RelCache.scope {
          ensureTable(s, bandsTbl, key, Some((8, "band")), validateCount = true)(built._1)
          ensureTable(s, shTbl, key, Some((8, "s")), validateCount = true)(built._2)
        }
      }
    }
    (s.table(bandsTbl), s.table(shTbl))
  }

  /** q142 gate diagnostic (VERDICT r10 #1): a one-line JSON snapshot
    * of the at-rest winnow index the incremental containment query
    * reads — row counts plus ORDER-INSENSITIVE checksums (bit_xor of
    * xxhash64 over the row's columns — xor commutes and cannot
    * overflow under ANSI arithmetic) of both relations. Written by
    * [[graft.Verify]] next to the query dumps: if the driver's gate
    * ever flags q142 again, the diag names whether the INDEX differed
    * (build/visibility fault) or only the final compare did (hash
    * procedure transient). */
  private[graft] def q142Diag(s: SparkSession, dir: String): String = {
    val (fp, sizes) = amortizedWinnowIndex(s, dir)
    val f = fp.agg(count(lit(1)).as("n"),
      expr("bit_xor(xxhash64(doc_id, h))").as("chk")).head()
    val z = sizes.agg(count(lit(1)).as("n"),
      expr("bit_xor(xxhash64(doc_id, nfp))").as("chk")).head()
    s"""{"fixture_key":"${fixtureKey(dir)}","fp_rows":${f.getLong(0)},""" +
      s""""fp_checksum":${f.getLong(1)},"sz_rows":${z.getLong(0)},""" +
      s""""sz_checksum":${z.getLong(1)}}"""
  }

  /** At-rest TRAINED-BPE vocabulary (the tokenizer analogue of the
    * q141 model artifact): the q126 merge table (fit on the %5 sample
    * by [[graft.operators.Bpe.bpeMergesFast]] — deterministic argmax,
    * so the stored table IS the fit) written ONCE per fixture as a
    * warehouse table and collected (vocabulary-bounded: nMerges rows)
    * on every later call. Apply-side work per run is then segmentation
    * only — the production pattern where the tokenizer is a versioned
    * artifact and every pipeline run encodes against it. */
  private def amortizedBpeMerges(s: SparkSession, dir: String): Seq[(String, String)] = {
    val key = fixtureKey(dir)
    val tbl = s"graft_bpe_$key"
    if (!s.catalog.tableExists(tbl)) synchronized {
      if (!s.catalog.tableExists(tbl)) {
        ensureTable(s, tbl, key, None)(graft.operators.Bpe.bpeMergesFast(
          t(s, dir, "documents").filter(col("doc_id") % 5 === 0), nMerges = 12))
      }
    }
    s.table(tbl).orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
  }

  /** At-rest CCNet reference LM (the third stored-model family after
    * the NB classifier and the BPE vocabulary): the
    * [[TextRetrieval.unigramLmFit]] token-frequency relation plus its
    * (n_total, vocab) scalars for the q136 reference slice
    * (doc_id % 5 = 0), written ONCE per fixture — both relations
    * token-type-grain / 1-row, so apply-only runs never re-tokenize
    * the reference corpus. Returns (freq, nTotal, vocab). */
  private[graft] def amortizedLm(s: SparkSession, dir: String): (DataFrame, Long, Long) = {
    val key = fixtureKey(dir)
    val fTbl = s"graft_lm_$key"
    val sTbl = s"graft_lms_$key"
    def missing = !s.catalog.tableExists(fTbl) || !s.catalog.tableExists(sTbl)
    if (missing) synchronized {
      if (missing) {
        lazy val built = TextRetrieval.unigramLmFit(
          t(s, dir, "documents").filter(col("doc_id") % 5 === 0))
        ensureTable(s, fTbl, key, None)(built._1)
        ensureTable(s, sTbl, key, None)(s.range(1).select(
          lit(built._2).as("n_total"), lit(built._3).as("vocab")))
      }
    }
    val sc = s.table(sTbl).head()
    (s.table(fTbl), sc.getLong(0), sc.getLong(1))
  }

  /** At-rest k-NN GRAPH index (the graph-ANN family's stored
    * artifact, completing the at-rest set: near-dup index, winnow
    * index, NB classifier, BPE vocabulary, reference LM — and now the
    * serving graph): the q148 NN-Descent graph written ONCE per
    * fixture, BUCKETED by node id — [[Similarity.graphSearchTopK]]'s
    * expansion joins key on it, so at rest the graph side co-locates
    * with zero graph-side shuffle (the `bucketed_neardup_demo` layout
    * argument on the node-id key). The build is deterministic, so the
    * store/re-read round trip stays on q149's oracle hash. Serving
    * then pays only O(rounds·beam·k) per query — the graph-index
    * contract q149's inline form cannot demonstrate because it
    * rebuilds the graph per call. */
  private def amortizedKnnGraph(s: SparkSession, dir: String): DataFrame = {
    // keyed on the EMBEDDINGS fixture (the table the graph derives
    // from) — a regenerated embeddings.parquet with an unchanged
    // documents.parquet must never reuse a stale graph, doubly so now
    // that at-rest artifacts survive sessions
    val key = fixtureKey(dir, "embeddings")
    val tbl = s"graft_kng_$key"
    if (!s.catalog.tableExists(tbl)) synchronized {
      if (!s.catalog.tableExists(tbl)) {
        ensureTable(s, tbl, key, Some((8, "vec_id")))(
          Similarity.knnGraphDescent(t(s, dir, "embeddings"),
            k = 5, iters = 2, dim = 64))
      }
    }
    s.table(tbl)
  }

  /** At-rest NB quality-classifier MODEL (VERDICT-r9 #3): the
    * [[TextRetrieval.qualityClassifierFit]] weight and prior relations
    * for the q119/q129 task (label: lang = 'en'), fit ONCE per fixture
    * and written as warehouse tables — both bucket-bounded (16³ weight
    * rows + a 1-row prior), so this is a MODEL ARTIFACT at rest, the
    * production pattern where a trained filter is stored and every
    * curation run is apply-only. q141 runs the q129 chain over it. */
  private def amortizedClassifierModel(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val key = fixtureKey(dir)
    val wTbl = s"graft_nbw_$key"
    val pTbl = s"graft_nbp_$key"
    def missing = !s.catalog.tableExists(wTbl) || !s.catalog.tableExists(pTbl)
    if (missing) synchronized {
      if (missing) {
        lazy val built = TextRetrieval.qualityClassifierFit(
          t(s, dir, "documents"), col("lang") === "en")
        ensureTable(s, wTbl, key, None)(built._1)
        ensureTable(s, pTbl, key, None)(built._2)
      }
    }
    (s.table(wTbl), s.table(pTbl))
  }

  /** The q175/q176 pair relation: the orders-adjacency chain graph
    * broken into 50-link chains (edge k→k−1 except at k % 50 = 0) —
    * chain COUNT scales with SF while chain LENGTH stays bounded, so
    * the recursive-CTE oracle is O(n·50). Edge parities alternate
    * along every chain, so the even/odd id_b split guarantees chains
    * CROSS the batch boundary. */
  private def ordersChainPairs(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").select(col("o_orderkey"))
    o.as("a").join(o.as("b"),
        col("b.o_orderkey") === col("a.o_orderkey") + 1)
      .filter(col("b.o_orderkey") % 50 =!= 0)
      .select(col("b.o_orderkey").as("id_a"), col("a.o_orderkey").as("id_b"))
  }

  /** At-rest COMPONENT LABELING (round 15, the cluster family's
    * stored-state verb — q128/q141/q150's pattern for components): the
    * batch-1 closure of [[ordersChainPairs]] written once per fixture
    * as an id-bucketed warehouse table under the marker protocol. A
    * labeling IS a compressed spanning forest (one star edge per
    * member), so serving it from disk and upserting new pair batches
    * into it ([[TextDedup.componentsUpsert]]) is the production crawl
    * loop: close once, store, fold every later batch in apply-only.
    * Keyed on the ORDERS fixture — the table the pair graph derives
    * from ([[graft.model.AtRest.gcWarehouse]] lists orders in its
    * liveness set for exactly this family). */
  private def amortizedComponentLabels(s: SparkSession, dir: String): DataFrame = {
    val key = fixtureKey(dir, "orders")
    val tbl = s"graft_cclab_$key"
    if (!s.catalog.tableExists(tbl)) synchronized {
      if (!s.catalog.tableExists(tbl)) {
        ensureTable(s, tbl, key, Some((8, "id")), validateCount = true)(
          TextDedup.duplicateComponents(
            ordersChainPairs(s, dir).filter(col("id_b") % 2 === 0)))
      }
    }
    s.table(tbl)
  }

  /** Shared SQL fragment: tokens per document. */
  private val toksSql =
    """SELECT doc_id, source, lang, text,
       list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
       FROM documents"""

  /** q65/q79/q125/q129 shared curation-chain replay over a
    * parameterized document source: exact dedup (md5 token-stream
    * keeper), banded MinHash near-dup (Jaccard ≥ 0.5), language
    * scoring, quality scoring. Ends at the `quality` CTE (doc_id,
    * text, toks, lang, q). `resolveCtes` injects extra CTEs between
    * `verified` and `losers` and `loserSql` overrides the near-dup
    * loser rule (default: pairwise greatest-id drop; q129 swaps in
    * cluster-grain best-quality resolution). `recursive` emits WITH
    * RECURSIVE for resolvers that need a closure CTE. */
  private def curationCoreSql(srcSql: String, resolveCtes: String = "",
      loserSql: String =
        "SELECT DISTINCT greatest(id_a, id_b) AS doc_id FROM verified WHERE j >= 0.5",
      recursive: Boolean = false): String =
    s"""WITH ${if (recursive) "RECURSIVE " else ""}tk AS (
            SELECT doc_id, text,
                   list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
            FROM ($srcSql)
          ), keep0 AS (
            SELECT *, row_number() OVER (PARTITION BY md5(array_to_string(toks, ' '))
                        ORDER BY doc_id) AS rn
            FROM tk
          ), keepers AS (SELECT doc_id, text, toks FROM keep0 WHERE rn = 1),
          sh AS (
            SELECT doc_id, list_distinct(list_transform(
                     generate_series(1, greatest(len(toks) - 2, 1)),
                     i -> array_to_string(toks[i:i+2], ' '))) AS sh
            FROM keepers
          ), hashed AS (SELECT doc_id, md5(unnest(sh)) AS h FROM sh),
          sig AS (
            SELECT doc_id,
                   [min(substr(h, 1, 4)), min(substr(h, 5, 4)),
                    min(substr(h, 9, 4)), min(substr(h, 13, 4)),
                    min(substr(h, 17, 4)), min(substr(h, 21, 4)),
                    min(substr(h, 25, 4)), min(substr(h, 29, 4))] AS s
            FROM hashed GROUP BY doc_id
          ), banded AS (
            SELECT doc_id,
                   unnest(['0#' || s[1] || '#' || s[2], '1#' || s[3] || '#' || s[4],
                           '2#' || s[5] || '#' || s[6], '3#' || s[7] || '#' || s[8]]) AS band
            FROM sig
          ), cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id
          ), verified AS (
            SELECT id_a, id_b,
                   len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) * 1.0 /
                   (len(sa.sh) + len(sb.sh)
                    - len(list_filter(sa.sh, x -> list_contains(sb.sh, x)))) AS j
            FROM cand JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b
          )${if (resolveCtes.isEmpty) "" else ", " + resolveCtes}, losers AS (
            $loserSql
          ), kept AS (
            SELECT k.* FROM keepers k LEFT JOIN losers l USING (doc_id) WHERE l.doc_id IS NULL
          ), scored AS (
            SELECT doc_id, text, toks,
                   len(list_filter(toks, w -> list_contains(${langListSql("en")}, w))) AS s_en,
                   len(list_filter(toks, w -> list_contains(${langListSql("de")}, w))) AS s_de,
                   len(list_filter(toks, w -> list_contains(${langListSql("es")}, w))) AS s_es,
                   len(list_filter(toks, w -> list_contains(${langListSql("fr")}, w))) AS s_fr
            FROM kept
          ), lang AS (
            SELECT *, CASE WHEN greatest(s_en, s_de, s_es, s_fr) = 0 THEN 'und'
                           WHEN s_fr = greatest(s_en, s_de, s_es, s_fr) THEN 'fr'
                           WHEN s_es = greatest(s_en, s_de, s_es, s_fr) THEN 'es'
                           WHEN s_en = greatest(s_en, s_de, s_es, s_fr) THEN 'en'
                           ELSE 'de' END AS lang
            FROM scored
          ), quality AS (
            SELECT *,
                   least(1.0, len(toks) / 100.0) * 0.3
                 + (1.0 - least(1.0, abs(CASE WHEN len(toks) > 0
                       THEN coalesce(list_sum(list_transform(toks, w -> length(w))), 0) * 1.0 / len(toks)
                       ELSE 0.0 END - 5.0) / 5.0)) * 0.3
                 + (1.0 - least(1.0, (CASE WHEN length(text) > 0
                       THEN length(regexp_replace(text, '[^.,!?;:]', '', 'g')) * 1.0 / length(text)
                       ELSE 0.0 END) * 10.0)) * 0.2
                 + least(1.0, (CASE WHEN len(toks) > 0
                       THEN len(list_filter(toks, w -> list_contains($stoplistSql, w))) * 1.0 / len(toks)
                       ELSE 0.0 END) * 3.0) * 0.2 AS q
            FROM lang
          )"""

  /** q126 oracle: `nMerges` BPE training rounds, each as four chained
    * CTEs (pair counts → 1-row argmax → island-parity keep set →
    * merged/reindexed state) over the doc_id % 5 = 0 sample. */
  private def bpeOracleSql(nMerges: Int): String =
    s"""WITH ${bpeTrainCtes(nMerges)}
       SELECT * FROM (
       ${(1 to nMerges).map(r =>
        s"SELECT $r AS round, lhs, rhs, CAST(cnt AS BIGINT) AS pair_count FROM b$r")
        .mkString("\n UNION ALL ")}) ORDER BY round"""

  /** q127 oracle: the q126 training chain, then the SAME merges
    * applied to the FULL corpus vocabulary (the t-chain — apply-only
    * rounds referencing each b$r), subword counts per word, and
    * per-source totals. */
  private def bpeSubwordOracleSql(nMerges: Int): String =
    s"""WITH ${bpeSubwordCtes(nMerges)}
       SELECT source, count(DISTINCT doc_id) AS n_docs,
              CAST(sum(cnt * n_sub) AS BIGINT) AS subword_tokens,
              CAST(sum(cnt) AS BIGINT) AS ws_tokens
       FROM dw JOIN nsub USING (word)
       GROUP BY 1 ORDER BY 1"""

  /** q131 oracle: the q127 subword machinery ending in PER-DOC real
    * token counts, then the q88 token-budget window (domain =
    * doc_id % 7, md5 rank hash, inclusive prefix ≤ budget) over the
    * REAL counts. */
  private def bpeTokenBudgetOracleSql(nMerges: Int, budget: Long): String =
    s"""WITH ${bpeSubwordCtes(nMerges)},
       dt AS (SELECT doc_id, doc_id % 7 AS domain,
                     CAST(sum(cnt * n_sub) AS BIGINT) AS toks
              FROM dw JOIN nsub USING (word) GROUP BY 1, 2),
       r AS (SELECT domain, doc_id, toks,
                    sum(toks) OVER (PARTITION BY domain
                      ORDER BY md5('3#' || CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
                      ROWS UNBOUNDED PRECEDING) AS ct
             FROM dt)
       SELECT domain, doc_id, toks FROM r WHERE ct <= $budget ORDER BY 1, 2"""

  /** Shared q127/q131 CTE chain: BPE training on the %5 sample
    * ([[bpeTrainCtes]]), the apply-only t-chain over the full corpus
    * vocabulary, `dw` (doc, source, word, cnt) and `nsub` (word,
    * n_sub). */
  private def bpeSubwordCtes(nMerges: Int): String = {
    val applyRounds = (1 to nMerges).map { r =>
      val prev = s"t${r - 1}"
      s"""ap$r AS MATERIALIZED (
           SELECT word, pos, sym,
                  lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
           FROM $prev),
         akm$r AS MATERIALIZED (
           SELECT word, pos FROM (
             SELECT word, pos,
                    min(pos) OVER (PARTITION BY word, island) AS imin
             FROM (SELECT p.word, p.pos,
                          p.pos - row_number() OVER (
                            PARTITION BY p.word ORDER BY p.pos) AS island
                   FROM ap$r p, b$r b
                   WHERE p.sym = b.lhs AND p.nxt = b.rhs))
           WHERE (pos - imin) % 2 = 0),
         t$r AS MATERIALIZED (
           SELECT word,
                  row_number() OVER (PARTITION BY word ORDER BY pos) - 1 AS pos,
                  CASE WHEN hit THEN lhs || rhs ELSE sym END AS sym
           FROM (SELECT s.word, s.pos, s.sym,
                        (k.pos IS NOT NULL) AS hit,
                        (SELECT lhs FROM b$r) AS lhs,
                        (SELECT rhs FROM b$r) AS rhs
                 FROM $prev s
                 LEFT JOIN akm$r k ON k.word = s.word AND k.pos = s.pos
                 WHERE NOT EXISTS (SELECT 1 FROM akm$r k2
                   WHERE k2.word = s.word AND k2.pos = s.pos - 1)))"""
    }.mkString(",\n")
    s"""${bpeTrainCtes(nMerges)},
       dw AS MATERIALIZED (
         SELECT doc_id, source, u.word, count(*) AS cnt FROM (
           SELECT doc_id, source, unnest(list_filter(
             string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS word
           FROM documents) u
         GROUP BY 1, 2, 3),
       t0 AS MATERIALIZED (
         SELECT word, i - 1 AS pos, syms[i] AS sym FROM (
           SELECT word, syms, unnest(generate_series(1, len(syms))) AS i
           FROM (SELECT word, list_append(list_transform(
                        generate_series(1, length(word)),
                        j -> substr(word, j, 1)), '</w>') AS syms
                 FROM (SELECT DISTINCT word FROM dw)))),
       $applyRounds,
       nsub AS (SELECT word, count(*) AS n_sub FROM t$nMerges GROUP BY 1)"""
  }

  /** Shared training CTEs for the BPE oracles: wf (the %5 sample's
    * word frequencies), s0 (initial symbols), and per-round
    * p/b/km/s CTEs. Every CTE is MATERIALIZED — plain CTE inlining
    * multiplies reference counts per round and the expansion is
    * exponential in round depth. */
  private def bpeTrainCtes(nMerges: Int): String = {
    val rounds = (1 to nMerges).map { r =>
      val prev = s"s${r - 1}"
      s"""p$r AS MATERIALIZED (
           SELECT word, freq, pos, sym,
                  lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
           FROM $prev),
         b$r AS MATERIALIZED (
           SELECT sym AS lhs, nxt AS rhs, sum(freq) AS cnt
           FROM p$r WHERE nxt IS NOT NULL
           GROUP BY 1, 2 ORDER BY cnt DESC, lhs ASC, rhs ASC LIMIT 1),
         km$r AS MATERIALIZED (
           SELECT word, pos FROM (
             SELECT word, pos,
                    min(pos) OVER (PARTITION BY word, island) AS imin
             FROM (SELECT p.word, p.pos,
                          p.pos - row_number() OVER (
                            PARTITION BY p.word ORDER BY p.pos) AS island
                   FROM p$r p, b$r b
                   WHERE p.sym = b.lhs AND p.nxt = b.rhs))
           WHERE (pos - imin) % 2 = 0),
         s$r AS MATERIALIZED (
           SELECT word, freq,
                  row_number() OVER (PARTITION BY word ORDER BY pos) - 1 AS pos,
                  CASE WHEN hit THEN lhs || rhs ELSE sym END AS sym
           FROM (SELECT s.word, s.freq, s.pos, s.sym,
                        (k.pos IS NOT NULL) AS hit,
                        (SELECT lhs FROM b$r) AS lhs,
                        (SELECT rhs FROM b$r) AS rhs
                 FROM $prev s
                 LEFT JOIN km$r k ON k.word = s.word AND k.pos = s.pos
                 WHERE NOT EXISTS (SELECT 1 FROM km$r k2
                   WHERE k2.word = s.word AND k2.pos = s.pos - 1)))"""
    }.mkString(",\n")
    s"""wf AS (
         SELECT u.word, count(*) AS freq FROM (
           SELECT unnest(list_filter(
             string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS word
           FROM documents WHERE doc_id % 5 = 0) u
         GROUP BY 1),
       s0 AS MATERIALIZED (
         SELECT word, freq, i - 1 AS pos, syms[i] AS sym FROM (
           SELECT word, freq, syms,
                  unnest(generate_series(1, len(syms))) AS i
           FROM (SELECT word, freq,
                        list_append(list_transform(
                          generate_series(1, length(word)),
                          j -> substr(word, j, 1)), '</w>') AS syms
                 FROM wf))),
       $rounds"""
  }

  /** Shared q123/q125 fragment: the cross-corpus reference near-dup
    * DROP SET as a self-contained subquery — `(…) dup` with one
    * `inc_id` column listing every incoming doc (doc_id % 7 >= 3)
    * whose band-collision + exact-Jaccard verify against the
    * reference slice (doc_id % 7 < 3) meets `minJ`. One home for the
    * md5 signature/band layout so the two gates cannot drift. */
  private def refNearDupDropSubquery(minJ: Double): String =
    s"""(WITH sh0 AS ($shinglesSql),
        shr AS (SELECT doc_id, sh FROM sh0 WHERE doc_id % 7 < 3),
        shi AS (SELECT doc_id, sh FROM sh0 WHERE doc_id % 7 >= 3),
        ${nearDupDropCtes("", "shi", "shr", minJ)}
        SELECT inc_id FROM dup)"""

  /** The band-collision + exact-Jaccard near-dup DROP chain between
    * two named shingle-set CTEs (`inc` / `ref`, each (doc_id, sh)),
    * every CTE name prefixed with `p` — emitted WITHOUT a leading
    * WITH, ending at `${p}dup` (DISTINCT inc_id). The single home
    * for the md5 signature/band layout ([[refNearDupDropSubquery]]
    * delegates here); the q151 upsert oracle instantiates it once
    * per index GENERATION with the gen-1 reference relation set to
    * ref0 ∪ accepted(crawl 1). */
  private def nearDupDropCtes(p: String, inc: String, ref: String,
      minJ: Double): String = {
    def sig(src: String) =
      s"""SELECT doc_id,
                 [min(substr(h, 1, 4)), min(substr(h, 5, 4)),
                  min(substr(h, 9, 4)), min(substr(h, 13, 4)),
                  min(substr(h, 17, 4)), min(substr(h, 21, 4)),
                  min(substr(h, 25, 4)), min(substr(h, 29, 4))] AS s
          FROM $src GROUP BY doc_id"""
    def bandsOf(src: String) =
      s"""SELECT doc_id,
                 unnest(['0#' || s[1] || '#' || s[2], '1#' || s[3] || '#' || s[4],
                         '2#' || s[5] || '#' || s[6], '3#' || s[7] || '#' || s[8]]) AS band
          FROM $src"""
    s"""${p}hr AS (SELECT doc_id, md5(unnest(sh)) AS h FROM $ref),
        ${p}hi AS (SELECT doc_id, md5(unnest(sh)) AS h FROM $inc),
        ${p}sigr AS (${sig(s"${p}hr")}),
        ${p}sigi AS (${sig(s"${p}hi")}),
        ${p}br AS (${bandsOf(s"${p}sigr")}),
        ${p}bi AS (${bandsOf(s"${p}sigi")}),
        ${p}cand AS (
          SELECT DISTINCT i.doc_id AS inc_id, r.doc_id AS ref_id
          FROM ${p}bi i JOIN ${p}br r ON i.band = r.band),
        ${p}ver AS (
          SELECT inc_id, ref_id,
                 len(list_filter(si.sh, x -> list_contains(sr.sh, x))) * 1.0 /
                 (len(si.sh) + len(sr.sh)
                  - len(list_filter(si.sh, x -> list_contains(sr.sh, x)))) AS j
          FROM ${p}cand JOIN $inc si ON si.doc_id = inc_id
                    JOIN $ref sr ON sr.doc_id = ref_id),
        ${p}dup AS (SELECT DISTINCT inc_id FROM ${p}ver WHERE j >= $minJ)"""
  }

  /** Shared q125/q130 oracle — the E6 chain replay: the q65 core over
    * the incoming slice pre-filtered by the q94 exact-fingerprint NOT
    * IN and the reference near-dup drop at j ≥ 0.5. */
  private lazy val e6OracleSql: String = {
    val incSrc = s"""SELECT d.doc_id, d.text FROM documents d
      WHERE d.doc_id % 7 >= 3
        AND md5(array_to_string(list_filter(
              string_split_regex(lower(d.text), '[^a-z0-9]+'),
              x -> x <> ''), ' ')) NOT IN (
          SELECT DISTINCT md5(array_to_string(list_filter(
              string_split_regex(lower(r.text), '[^a-z0-9]+'),
              x -> x <> ''), ' '))
          FROM documents r WHERE r.doc_id % 7 < 3)
        AND NOT EXISTS (SELECT 1 FROM ${refNearDupDropSubquery(0.5)} dup
          WHERE dup.inc_id = d.doc_id)"""
    s"""${curationCoreSql(incSrc)}
        SELECT doc_id, lang, round(q + 1e-9, 6) + 0.0 AS quality,
               CAST(len(toks) AS INT) AS ws_tokens,
               CAST(coalesce(list_sum(list_transform(toks,
                      w -> CAST(ceil(length(w) / 4.0) AS BIGINT))), 0)
                    + length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS BIGINT) AS bpeish_tokens
        FROM quality
        WHERE lang = 'en' AND q >= 0.3
        ORDER BY doc_id"""
  }

  /** Shared q123/q128 oracle: per-source keep stats of the incoming
    * slice after the cross-corpus near-dup drop at Jaccard ≥ 0.3. */
  private lazy val nearDupIncrementalOracleSql: String =
    s"""SELECT d.source, count(*) AS n_kept, min(d.doc_id) AS first_kept,
               CAST(sum(d.doc_id) AS BIGINT) AS sum_ids
        FROM documents d
        WHERE d.doc_id % 7 >= 3
          AND NOT EXISTS (SELECT 1 FROM ${refNearDupDropSubquery(0.3)} dup
                          WHERE dup.inc_id = d.doc_id)
        GROUP BY 1 ORDER BY 1"""

  /** q164 oracle: the q123 incremental near-dup replay with the
    * reference slice MINUS the takedown batch (doc_id % 11 = 0) —
    * deletion-by-anti-join must equal rebuild-without-removed, so the
    * oracle simply rebuilds without. */
  private lazy val indexDeleteOracleSql: String =
    s"""WITH sh0 AS ($shinglesSql),
        shr AS (SELECT doc_id, sh FROM sh0
                WHERE doc_id % 7 < 3 AND doc_id % 11 <> 0),
        shi AS (SELECT doc_id, sh FROM sh0 WHERE doc_id % 7 >= 3),
        ${nearDupDropCtes("", "shi", "shr", 0.3)}
        SELECT d.source, count(*) AS n_kept, min(d.doc_id) AS first_kept,
               CAST(sum(d.doc_id) AS BIGINT) AS sum_ids
        FROM documents d
        WHERE d.doc_id % 7 >= 3
          AND NOT EXISTS (SELECT 1 FROM dup WHERE dup.inc_id = d.doc_id)
        GROUP BY 1 ORDER BY 1"""

  /** Shared q35/q152 fragment: the full in-corpus MinHash LSH chain —
    * shingle sets → md5 minhash signature → 4 bands → distinct
    * candidate pairs (id_a < id_b) → exact-Jaccard `verified`
    * (id_a, id_b, j). Emitted WITHOUT the leading WITH; one home so
    * the pair layout cannot drift between the two gates. */
  private lazy val minhashVerifiedCtes: String =
    s"""sh AS ($shinglesSql), hashed AS (
            SELECT doc_id, md5(unnest(sh)) AS h FROM sh
          ), sig AS (
            SELECT doc_id,
                   [min(substr(h, 1, 4)), min(substr(h, 5, 4)),
                    min(substr(h, 9, 4)), min(substr(h, 13, 4)),
                    min(substr(h, 17, 4)), min(substr(h, 21, 4)),
                    min(substr(h, 25, 4)), min(substr(h, 29, 4))] AS s
            FROM hashed GROUP BY doc_id
          ), banded AS (
            SELECT doc_id,
                   unnest(['0#' || s[1] || '#' || s[2], '1#' || s[3] || '#' || s[4],
                           '2#' || s[5] || '#' || s[6], '3#' || s[7] || '#' || s[8]]) AS band
            FROM sig
          ), cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.doc_id < b.doc_id
          ), verified AS (
            SELECT id_a, id_b,
                   len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) * 1.0 /
                   (len(sa.sh) + len(sb.sh)
                    - len(list_filter(sa.sh, x -> list_contains(sb.sh, x)))) AS j
            FROM cand JOIN sh sa ON sa.doc_id = id_a
                      JOIN sh sb ON sb.doc_id = id_b
          )"""

  /** q154 WordPiece replay: the substring-frequency vocabulary fit
    * (top `vocabSize` by (weighted count desc, piece asc) over the
    * %5 sample, plus the sample alphabet) and the greedy
    * longest-match segmentation of the full corpus vocabulary as
    * `rounds` unrolled CTE rounds — one emitted piece per round per
    * still-active word, `greatest(coalesce(max matched length, 0), 1)`
    * implementing the 1-char byte fallback. All comparisons are
    * integer (counts, lengths) — no float argmax anywhere. */
  private def wordPieceOracleSql(maxPieceLen: Int, vocabSize: Int,
      rounds: Int): String = {
    val roundCtes = (1 to rounds).map { r =>
      s"""m$r AS MATERIALIZED (
           SELECT g.word, g.off, greatest(coalesce(max(v.l), 0), 1) AS l
           FROM g${r - 1} g
           LEFT JOIN vl v
             ON g.off + v.l - 1 <= length(g.word)
            AND v.piece = substr(g.word, g.off, v.l)
           GROUP BY 1, 2),
         pc$r AS (SELECT word, substr(word, off, l) AS piece FROM m$r),
         g$r AS (SELECT word, off + l AS off FROM m$r
                 WHERE off + l <= length(word))"""
    }.mkString(",\n       ")
    s"""WITH tk AS ($toksSql),
       dwp AS (
         SELECT doc_id, source, w AS word, count(*) AS cnt
         FROM (SELECT doc_id, source, unnest(toks) AS w FROM tk)
         GROUP BY 1, 2, 3),
       wpf AS (
         SELECT word, CAST(sum(cnt) AS BIGINT) AS freq
         FROM dwp WHERE doc_id % 5 = 0 GROUP BY 1),
       wl AS (SELECT word, freq,
                     unnest(generate_series(1, least($maxPieceLen, length(word)))) AS l
              FROM wpf),
       wli AS (SELECT word, freq, l,
                      unnest(generate_series(1, length(word) - l + 1)) AS i
               FROM wl),
       subs AS (SELECT substr(word, i, l) AS piece,
                       CAST(sum(freq) AS BIGINT) AS cnt
                FROM wli GROUP BY 1),
       topv AS (SELECT piece FROM (
                  SELECT piece, row_number() OVER (
                           ORDER BY cnt DESC, piece ASC) AS rn
                  FROM subs) WHERE rn <= $vocabSize),
       vocab AS (SELECT DISTINCT piece FROM (
                   SELECT piece FROM topv
                   UNION ALL
                   SELECT substr(word, i, 1) FROM wli WHERE l = 1)),
       vl AS (SELECT piece, length(piece) AS l FROM vocab),
       g0 AS (SELECT DISTINCT word, 1 AS off FROM dwp
              WHERE length(word) >= 1),
       $roundCtes,
       np AS (SELECT word, count(*) AS n_wp
              FROM (${(1 to rounds).map(r => s"SELECT word, piece FROM pc$r")
                        .mkString(" UNION ALL ")})
              GROUP BY 1)
       SELECT source, count(DISTINCT doc_id) AS n_docs,
              CAST(sum(cnt * n_wp) AS BIGINT) AS wp_tokens,
              CAST(sum(cnt) AS BIGINT) AS ws_tokens,
              round(sum(cnt * n_wp) * 1.0 / sum(cnt) + 1e-7, 4) + 0.0 AS fertility
       FROM dwp JOIN np USING (word) GROUP BY 1 ORDER BY 1"""
  }

  /** Shared SQL fragment: distinct 3-shingle sets per document. */
  private val shinglesSql =
    s"""WITH tk AS ($toksSql)
       SELECT doc_id, source,
              list_distinct(list_transform(
                generate_series(1, greatest(len(toks) - 2, 1)),
                i -> array_to_string(toks[i:i+2], ' '))) AS sh
       FROM tk"""

  /** Shared q134/q135 derivation: train 12 merges on the %5 sample
    * (driver-side incremental fit — PropertySpec-equal to the
    * relational form), segment the FULL corpus vocabulary in one
    * distributed pass, return (docs, per-word subword piece counts).
    * The q131 counts derivation, factored for the chunk/pack pair. */
  private def realNSub(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val docs = t(s, dir, "documents")
    val merges = graft.operators.Bpe.bpeMergesFast(
        docs.filter(col("doc_id") % 5 === 0), nMerges = 12)
      .orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val vocab = docs.select(explode(tokens(col("text"))).as("word")).distinct()
    val nSub = graft.operators.Bpe.segmentFast(vocab, merges)
      .groupBy("word").agg(count(lit(1)).as("n_sub"))
    (docs, nSub)
  }

  /** Per-doc REAL subword totals from a fertility relation — the
    * dw × nsub aggregation shared by q131/q135. */
  private def docTokCounts(docs: DataFrame, nSub: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("cnt"))
      .join(nSub, Seq("word"))
      .groupBy("doc_id").agg(sum(col("cnt") * col("n_sub")).as("toks"))

  /** Shared q146/q158 planted-URL derivation (Spark side): five
    * syntactic variants of the same page per 5-doc group — fragment /
    * case+www / default port+trailing slash / tracking params /
    * unsorted params+fbclid. Variants 0–3 canonicalize identically
    * (one survivor, the min doc_id); variant 4 carries real params
    * and survives separately. The oracle `urlCanonCtes` replays the
    * derivation and the whole RFC-3986 §6 rule chain. */
  private def plantedUrls(docs: DataFrame): DataFrame = {
    val page = expr("doc_id div 5")
    val site = pmod(page, lit(7)).cast("string")
    val p = page.cast("string")
    val base = concat(lit("https://site"), site, lit(".example.com/p/"), p)
    val v = pmod(col("doc_id"), lit(5))
    val url = when(v === 0, concat(base, lit("#section-2")))
      .when(v === 1, concat(lit("HTTPS://WWW.SITE"), site,
        lit(".EXAMPLE.COM/p/"), p))
      .when(v === 2, concat(lit("https://site"), site,
        lit(".example.com:443/p/"), p, lit("/")))
      .when(v === 3, concat(base, lit("?utm_source=feed&utm_campaign=x")))
      .otherwise(concat(base, lit("?b=2&a=1&fbclid=IwAB12")))
    docs.withColumn("url", url)
  }

  /** Shared q137/q138 planted-HTML derivation (Spark side): the
    * fixture text wrapped in a deterministic template — metadata head,
    * link-dense nav/ads/footer boilerplate, the original text as the
    * one content paragraph. The oracle `htmlVerdictCtes` replays the
    * identical template. */
  private[graft] def plantedHtml(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), concat(
      lit("<html><head><title>Doc "), col("doc_id"),
      lit("</title><script>var x="), col("doc_id"),
      lit(";</script><style>.c{color:red}</style></head><body>"),
      lit("<nav><a href=\"/home\">home</a> <a href=\"/about\">about</a></nav>"),
      lit("<h1>doc "), col("doc_id"), lit(" heading</h1>"),
      lit("<p>"), col("text"), lit("</p>"),
      lit("<div class=\"ads\">buy <a href=\"/buy\">now</a></div>"),
      lit("<footer><a href=\"/terms\">terms</a> <a href=\"/privacy\">privacy</a> &copy; 2026</footer>"),
      lit("</body></html>")).as("html"))

  /** Shared q137/q138 CTE chain — the planted-HTML template and the
    * full extraction replay (head/script/style strip, block tags →
    * lines, tag strip, entity decode with `&amp;` last, link-density
    * line verdicts). Ends at `verdict` (doc_id, lpos, n_links, txt,
    * keep). */
  private val htmlVerdictCtes: String =
    """html AS (
         SELECT doc_id,
                '<html><head><title>Doc ' || doc_id || '</title><script>var x=' || doc_id ||
                ';</script><style>.c{color:red}</style></head><body>' ||
                '<nav><a href="/home">home</a> <a href="/about">about</a></nav>' ||
                '<h1>doc ' || doc_id || ' heading</h1>' ||
                '<p>' || text || '</p>' ||
                '<div class="ads">buy <a href="/buy">now</a></div>' ||
                '<footer><a href="/terms">terms</a> <a href="/privacy">privacy</a> &copy; 2026</footer>' ||
                '</body></html>' AS html
         FROM documents),
       s0 AS (SELECT doc_id, regexp_replace(html, '[\n\r\t]+', ' ', 'g') AS x FROM html),
       s1 AS (SELECT doc_id, regexp_replace(x, '(?is)<head.*?</head>', ' ', 'g') AS x FROM s0),
       s2 AS (SELECT doc_id, regexp_replace(x, '(?is)<(script|style)[^>]*>.*?</(script|style)>', ' ', 'g') AS x FROM s1),
       s3 AS (SELECT doc_id, regexp_replace(x, '(?is)</(p|div|h1|h2|h3|li|nav|footer|tr)>', chr(10), 'g') AS x FROM s2),
       lines AS (
         SELECT doc_id, i - 1 AS lpos, ls[i] AS line
         FROM (SELECT doc_id, string_split(x, chr(10)) AS ls FROM s3),
              LATERAL (SELECT unnest(generate_series(1, len(ls))) AS i)),
       clean AS (
         SELECT doc_id, lpos,
                len(regexp_extract_all(line, '(?i)<a[\s>]')) AS n_links,
                regexp_replace(trim(
                  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                  regexp_replace(regexp_replace(regexp_replace(
                    regexp_replace(line, '<[^>]*>', ' ', 'g'),
                    '&nbsp;', ' ', 'g'), '&lt;', '<', 'g'), '&gt;', '>', 'g'),
                    '&quot;', '"', 'g'), '&#39;', chr(39), 'g'), '&copy;', '(c)', 'g'),
                    '&amp;', '&', 'g')), '\s+', ' ', 'g') AS txt
         FROM lines),
       verdict AS (
         SELECT *, (length(txt) > 0)
                   AND NOT (n_links >= 2 OR (n_links >= 1 AND length(txt) < 40)) AS keep
         FROM clean)"""

  /** The extraction as a curation SOURCE: (doc_id, text) of the kept
    * lines in order — `curationCoreSql`'s srcSql for the E7 chain. */
  private val htmlExtractSrcSql: String =
    s"""WITH $htmlVerdictCtes
       SELECT doc_id,
              coalesce(string_agg(CASE WHEN keep THEN txt END, ' ' ORDER BY lpos), '') AS text
       FROM verdict GROUP BY doc_id"""

  /** Shared q146/q158 fragment — the planted-URL derivation and the
    * whole RFC-3986 §6 canonicalization chain, WITHOUT the leading
    * WITH, ending at `canon` (doc_id, canon_url). One home so the
    * URL-dedup gate and the E8 chain cannot drift. */
  private val urlCanonCtes: String =
    s"""u AS (
         SELECT doc_id,
           CASE CAST(doc_id % 5 AS INT)
             WHEN 0 THEN 'https://site' || CAST((doc_id // 5) % 7 AS VARCHAR)
               || '.example.com/p/' || CAST(doc_id // 5 AS VARCHAR) || '#section-2'
             WHEN 1 THEN 'HTTPS://WWW.SITE' || CAST((doc_id // 5) % 7 AS VARCHAR)
               || '.EXAMPLE.COM/p/' || CAST(doc_id // 5 AS VARCHAR)
             WHEN 2 THEN 'https://site' || CAST((doc_id // 5) % 7 AS VARCHAR)
               || '.example.com:443/p/' || CAST(doc_id // 5 AS VARCHAR) || '/'
             WHEN 3 THEN 'https://site' || CAST((doc_id // 5) % 7 AS VARCHAR)
               || '.example.com/p/' || CAST(doc_id // 5 AS VARCHAR)
               || '?utm_source=feed&utm_campaign=x'
             ELSE 'https://site' || CAST((doc_id // 5) % 7 AS VARCHAR)
               || '.example.com/p/' || CAST(doc_id // 5 AS VARCHAR)
               || '?b=2&a=1&fbclid=IwAB12'
           END AS url
         FROM documents),
       c1 AS (
         SELECT doc_id, regexp_replace(trim(url), '#.*$$', '') AS u1 FROM u),
       c2 AS (
         SELECT doc_id, u1,
                regexp_extract(u1, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1) AS auth0
         FROM c1),
       c3 AS (
         SELECT doc_id,
                regexp_replace(regexp_replace(regexp_replace(lower(auth0),
                  '://www\\.', '://'),
                  '^(http://[^/:?#]+):80$$', '\\1'),
                  '^(https://[^/:?#]+):443$$', '\\1') AS auth,
                substr(u1, length(auth0) + 1) AS rest
         FROM c2),
       c4 AS (
         SELECT doc_id, auth,
                regexp_replace(CASE WHEN strpos(rest, '?') > 0
                  THEN substr(rest, 1, strpos(rest, '?') - 1) ELSE rest END,
                  '/+$$', '') AS path,
                CASE WHEN strpos(rest, '?') > 0
                  THEN substr(rest, strpos(rest, '?') + 1) ELSE '' END AS query
         FROM c3),
       c5 AS (
         SELECT doc_id, auth, path,
                list_sort(list_filter(string_split(query, '&'),
                  p -> p <> '' AND NOT regexp_matches(p,
                    '^(utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid|mc_eid|igshid|ref)(=|${"$"})')))
                  AS params
         FROM c4),
       canon AS (
         SELECT doc_id, auth || path ||
                (CASE WHEN len(params) > 0
                  THEN '?' || array_to_string(params, '&') ELSE '' END) AS canon_url
         FROM c5)"""

  /** q158 source: the q137 extraction replay restricted to q146's
    * URL-dedup survivors — the E8 chain's crawl front as ONE
    * self-contained subquery. */
  private lazy val e8SrcSql: String =
    s"""WITH $urlCanonCtes,
       usurv AS (SELECT min(doc_id) AS doc_id FROM canon GROUP BY canon_url),
       $htmlVerdictCtes
       SELECT v.doc_id,
              coalesce(string_agg(CASE WHEN keep THEN txt END, ' ' ORDER BY lpos), '') AS text
       FROM verdict v JOIN usurv ON usurv.doc_id = v.doc_id
       GROUP BY v.doc_id"""

  /** Shared q132/q133 CTE chain — winnowing selection replay: per-doc
    * k-gram md5 list `hs`, then per window j the min hash with the
    * RIGHTMOST tie position, encoded as 'hexmd5#pos' strings (DuckDB
    * cannot list_distinct struct lists). `sel.fps` is the distinct
    * selected fingerprint set; pos arithmetic: the slice is 1-based,
    * list_position on the reversed slice finds the LAST occurrence,
    * and j - 2 + len + 1 - revpos converts back to the 0-based gram
    * index the engine emits. */
  private def winnowSelSql(k: Int, w: Int): String =
    s"""tk AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
          FROM documents
        ), g AS (
          SELECT doc_id,
                 CASE WHEN len(toks) >= $k THEN len(toks) - $k + 1 ELSE 1 END AS ng,
                 list_transform(generate_series(1, greatest(len(toks) - $k + 1, 1)),
                   i -> md5(array_to_string(toks[i:i+$k-1], ' '))) AS hs
          FROM tk WHERE len(toks) > 0
        ), sel AS (
          SELECT doc_id, ng, list_distinct(list_transform(
            generate_series(1, greatest(ng - $w + 1, 1)),
            j -> list_sort(hs[j:least(j+$w-1, ng)])[1] || '#' ||
                 CAST(j - 2 + len(hs[j:least(j+$w-1, ng)]) + 1
                     - list_position(list_reverse(hs[j:least(j+$w-1, ng)]),
                                     list_sort(hs[j:least(j+$w-1, ng)])[1]) AS VARCHAR))) AS fps
          FROM g
        )"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- E4: the full text-curation pipeline end-to-end (exact
    // dedup -> MinHash near-dup -> lang filter -> quality floor ->
    // token stats), hash-checked against a stage-by-stage SQL replay.
    "q65_text_curation" -> ((s, dir) => {
      graft.Pipelines.textCuration(t(s, dir, "documents"), langs = Seq("en"),
          minQuality = 0.3, nearDupJaccard = 0.5, md5Hashes = true)
        .select(col("doc_id"), col("lang"),
          round(col("quality") + 1e-9, 6).as("quality"),
          col("ws_tokens"), col("bpeish_tokens"))
        .orderBy("doc_id")
    }),

    // ---- E4 audit ledger: per-document drop ATTRIBUTION for the
    // q65 chain — one row per INPUT doc naming the first stage that
    // dropped it (exact_dup/near_dup/lang/quality) or kept, the
    // winning twin / detected language as detail, and the quality
    // score for every doc that reached scoring. The keep set is
    // exactly q65's (spec-gated); the oracle composes the q65 CTE
    // core with winner-id aggregations. ----
    "q147_curation_audit" -> ((s, dir) => {
      graft.Pipelines.curationAudit(t(s, dir, "documents"), langs = Seq("en"),
          minQuality = 0.3, nearDupJaccard = 0.5, md5Hashes = true)
        .orderBy("doc_id")
    }),

    // ---- E4 curation with MODEL-QUALITY cluster representatives:
    // the production dedup policy (RefinedWeb "quality filtering" +
    // Dolma's dedup) — near-dup clusters resolve to their BEST member
    // by a TRAINED quality signal (the q119 NB classifier's score),
    // not the arbitrary lowest id. Composes qualityClassifierScores
    // (fit on the raw corpus) → textCuration with nearDupClusters +
    // clusterQuality → lang/quality/token stages. ----
    "q129_quality_cluster_curation" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val scores = TextRetrieval.qualityClassifierScores(docs,
          col("lang") === "en")
        .select("doc_id", "score")
      graft.Pipelines.textCuration(docs, langs = Seq("en"), minQuality = 0.3,
          nearDupJaccard = 0.5, md5Hashes = true,
          nearDupClusters = true, clusterQuality = Some(scores))
        .select(col("doc_id"), col("lang"),
          round(col("quality") + 1e-9, 6).as("quality"),
          col("ws_tokens"), col("bpeish_tokens"))
        .orderBy("doc_id")
    }),

    // ---- BPE vocabulary training: the REAL Sennrich-2016 merge loop
    // as relational algebra — adjacent-pair counts weighted by word
    // frequency, deterministic argmax (count desc, pair asc), greedy
    // left-to-right merge apply via the island-parity window rule
    // (PropertySpec proves it equals the sequential fold). Trained on
    // the doc_id % 5 = 0 sample (tokenizers train on samples); every
    // round replays in the oracle as four chained CTEs. ----
    // Production path: bpeMergesFast — one corpus-facing pass, the
    // merge loop driver-side over the bounded vocabulary relation
    // (PropertySpec proves it row-identical to the all-relational
    // bpeMerges and to the sequential reference fold; the oracle
    // replays the training rounds as chained CTEs either way).
    "q126_bpe_merges" -> ((s, dir) => {
      graft.operators.Bpe.bpeMergesFast(
        t(s, dir, "documents").filter(col("doc_id") % 5 === 0), nMerges = 12)
        .orderBy("round")
    }),

    // ---- REAL subword token accounting: train the q126 vocabulary
    // on the %5 sample, segment the FULL corpus vocabulary with it
    // (vocabulary-grain — the corpus never re-scans per merge), and
    // report per-source subword vs whitespace token totals — the
    // fertility numbers a token-budgeting stage (q88/q91) would use.
    // Docs with zero tokens contribute nothing (as the join drops
    // them symmetrically in the oracle). ----
    "q127_subword_counts" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // production paths on both sides (fit + encode): PropertySpec
      // proves bpeMergesFast/segmentFast ≡ bpeMerges/segment ≡ the
      // sequential reference, so the hash gate is unchanged
      val merges = graft.operators.Bpe.bpeMergesFast(
          docs.filter(col("doc_id") % 5 === 0), nMerges = 12)
        .orderBy("round").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val dw = docs.select(col("doc_id"), col("source"),
          explode(tokens(col("text"))).as("word"))
        .groupBy("doc_id", "source", "word").agg(count(lit(1)).as("cnt"))
      val seg = graft.operators.Bpe.segmentFast(dw.select("word").distinct(), merges)
        .groupBy("word").agg(count(lit(1)).as("n_sub"))
      dw.join(seg, Seq("word"))
        .groupBy("source")
        .agg(count_distinct(col("doc_id")).as("n_docs"),
          sum(col("cnt") * col("n_sub")).as("subword_tokens"),
          sum(col("cnt")).as("ws_tokens"))
        .orderBy("source")
    }),

    // ---- WordPiece tokenizer family (the BERT inference rule, the
    // q127 mirror for the SECOND tokenizer): substring-frequency
    // vocabulary fit on the %5 sample (top-200 pieces ≤ 4 chars +
    // the sample alphabet), GREEDY LONGEST-MATCH segmentation of the
    // full corpus vocabulary with 1-char byte fallback, per-source
    // piece stats. The oracle replays the fit and every greedy round
    // (one unrolled CTE per emitted piece position). ----
    "q154_wordpiece_counts" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val vocab = graft.operators.Bpe.wordPieceVocab(
          docs.filter(col("doc_id") % 5 === 0), maxPieceLen = 4,
          vocabSize = 200)
        .orderBy("piece").collect().map(_.getString(0)).toSeq
      val dw = docs.select(col("doc_id"), col("source"),
          explode(tokens(col("text"))).as("word"))
        .groupBy("doc_id", "source", "word").agg(count(lit(1)).as("cnt"))
      val np = graft.operators.Bpe.wordPieceSegment(
          dw.select("word").distinct(), vocab, maxPieceLen = 4)
        .groupBy("word").agg(count(lit(1)).as("n_wp"))
      dw.join(np, Seq("word"))
        .groupBy("source")
        .agg(count_distinct(col("doc_id")).as("n_docs"),
          sum(col("cnt") * col("n_wp")).as("wp_tokens"),
          sum(col("cnt")).as("ws_tokens"),
          round(sum(col("cnt") * col("n_wp")) / sum(col("cnt")) + 1e-7, 4)
            .as("fertility"))
        .orderBy("source")
    }),

    // ---- REAL-tokenizer token budgets: the E5 mixing stage driven by
    // the TRAINED vocabulary's fertility instead of the whitespace
    // heuristic — train the q126 merges on the %5 sample, segment the
    // full corpus vocabulary (segmentFast, one distributed pass),
    // derive per-DOC real subword counts, and run the q88 per-domain
    // token-budget cap over those counts. The numbers a production
    // packing/budget stage actually uses. Zero-token docs contribute
    // no rows (the q127 join convention, both engines). ----
    "q131_real_token_budget" -> ((s, dir) => {
      val (docs, nSub) = realNSub(s, dir)
      val docToks = docTokCounts(docs, nSub)
        .withColumn("domain", col("doc_id") % 7)
      TextDedup.capTokensPerKey(docToks, "domain", "toks", budget = 3000L,
          seed = 3, md5Hashes = true)
        .select(col("domain"), col("doc_id"), col("toks"))
        .orderBy("domain", "doc_id")
    }),

    // ---- Tokenizer-fertility quality verdicts (FineWeb-class
    // compression-ratio signal): per-doc mean subwords-per-word under
    // the trained BPE; docs above the corpus 90th percentile flagged
    // kept = false — gibberish tokenizes hard. ----
    "q153_fertility_filter" -> ((s, dir) => {
      val (docs, nSub) = realNSub(s, dir)
      TextRetrieval.fertilityFilter(docs, nSub, quantile = 0.9)
        .orderBy("doc_id")
    }),

    // ---- Context-window chunking at REAL tokenizer boundaries:
    // chunk membership computed on SUBWORD positions (trained-BPE
    // fertility via segmentFast), so boundaries fall where the
    // model's context window falls — a word's pieces split across
    // chunks when the boundary does. q90 is the whitespace
    // approximation; this is what a production loader uses. ----
    "q134_real_token_chunks" -> ((s, dir) => {
      val (docs, nSub) = realNSub(s, dir)
      TextDedup.chunkByTokenCounts(docs, nSub, chunkTokens = 64)
        .orderBy("doc_id", "chunk")
    }),

    // ---- Packing manifest under the REAL tokenizer: the q91
    // concat-and-split block layout over trained-BPE per-doc token
    // counts — global offsets shift wherever real fertility diverges
    // from the whitespace count, which is exactly what the packed
    // block boundaries depend on in production. ----
    "q135_real_token_packing" -> ((s, dir) => {
      val (docs, nSub) = realNSub(s, dir)
      TextDedup.packingManifest(docTokCounts(docs, nSub), "toks",
          blockTokens = 512L, seed = 5, md5Hashes = true)
        .orderBy("doc_id")
    }),

    // ---- CCNet perplexity partition (Wenzek et al. 2020): score
    // paragraphs under a REFERENCE LM (the %5 sample — held out, so
    // unseen tokens take the smoothed floor), length-weighted doc
    // scores, per-LANGUAGE head/middle/tail terciles. The fixture has
    // no newlines, so multi-paragraph structure is planted
    // deterministically (a newline every 12 tokens; the oracle
    // replays the derivation). ----
    "q136_ccnet_buckets" -> ((s, dir) => {
      val docs0 = t(s, dir, "documents")
      val toks = tokens(col("text"))
      val nPara = ceil(size(toks) / lit(12.0)).cast("int")
      val docs = docs0.filter(size(toks) > 0).select(col("doc_id"), col("lang"),
        concat_ws("\n", transform(sequence(lit(0), nPara - 1),
          i => concat_ws(" ", slice(toks, i * 12 + 1, lit(12))))).as("text"))
      val lmRef = docs0.filter(col("doc_id") % 5 === 0)
      TextRetrieval.ccnetBuckets(docs, lmRef).orderBy("doc_id")
    }),

    // ---- URL canonicalization + URL-grain dedup (the crawl-frontier
    // front stage — dedup BEFORE fetch, no content needed). URLs are
    // planted in-query: five syntactic variants of the same page
    // (fragment / case+www / default port+trailing slash / tracking
    // params / unsorted params+fbclid), hosts derived from the page
    // id so variants of one page genuinely collide. Variants 0–3
    // canonicalize identically (one survivor, the min doc_id);
    // variant 4 carries real params (?a=1&b=2) and survives
    // separately. The oracle replays the derivation and the whole
    // RFC-3986 §6 rule chain. ----
    "q146_url_dedup" -> ((s, dir) => {
      graft.operators.TextExtract.urlDedup(plantedUrls(t(s, dir, "documents")))
        .select(col("doc_id"), col("canon_url"))
        .orderBy("doc_id")
    }),

    // ---- E8: the complete web-corpus build front — URL-grain dedup
    // (q146, dedup BEFORE fetch) → HTML extraction (q137) → the full
    // E4 curation chain. One composed oracle: the q65 core's source
    // is the extraction replay restricted to URL-dedup survivors. ----
    "q158_e8_webcorpus" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val survivors = graft.operators.TextExtract.urlDedup(plantedUrls(docs))
        .select("doc_id")
      val extracted = graft.operators.TextExtract
        .extractHtmlText(plantedHtml(docs.join(survivors, Seq("doc_id"))))
        .select(col("doc_id"), col("text"))
      graft.Pipelines.textCuration(extracted, langs = Seq("en"),
          minQuality = 0.3, nearDupJaccard = 0.5, md5Hashes = true)
        .select(col("doc_id"), col("lang"),
          round(col("quality") + 1e-9, 6).as("quality"),
          col("ws_tokens"), col("bpeish_tokens"))
        .orderBy("doc_id")
    }),

    // ---- HTML → text extraction (the raw-crawl front stage): strip
    // head/script/style, block tags → lines, entity decode, drop
    // boilerplate lines by link density. HTML is planted in-query
    // around the fixture text (title/script/style head, link-dense
    // nav + ads + footer, the original text as content) so the
    // extracted fingerprint must recover exactly heading + content —
    // the oracle replays the template and the whole regexp chain. ----
    "q137_html_extract" -> ((s, dir) => {
      graft.operators.TextExtract.extractHtmlText(plantedHtml(t(s, dir, "documents")))
        .select(col("doc_id"), col("n_kept"), col("n_dropped"), col("n_links"),
          fingerprint(col("text")).as("extracted_fp"))
        .orderBy("doc_id")
    }),

    // ---- E7: the full RAW-CRAWL pipeline — planted HTML through
    // extraction (q137) into the complete E4 curation chain (exact
    // dedup -> near-dup -> lang -> quality -> token stats). The
    // composed oracle feeds the extraction replay into the q65 core
    // as its source relation. ----
    "q138_e7_rawcrawl" -> ((s, dir) => {
      val extracted = graft.operators.TextExtract
        .extractHtmlText(plantedHtml(t(s, dir, "documents")))
        .select(col("doc_id"), col("text"))
      graft.Pipelines.textCuration(extracted, langs = Seq("en"),
          minQuality = 0.3, nearDupJaccard = 0.5, md5Hashes = true)
        .select(col("doc_id"), col("lang"),
          round(col("quality") + 1e-9, 6).as("quality"),
          col("ws_tokens"), col("bpeish_tokens"))
        .orderBy("doc_id")
    }),

    // ---- E6: INCREMENTAL curation — curate a NEW crawl against an
    // existing corpus end-to-end: exact-fingerprint reference dedup
    // (Bloom prune + exact confirm), banded near-dup against the
    // reference index (Jaccard >= 0.5 at the chain threshold), then
    // the E4 stages (in-batch exact dedup -> near-dup -> lang ->
    // quality). Reference = doc_id % 7 < 3 (the q94/q123 split). ----
    "q125_incremental_curation" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val refDocs = docs.filter(col("doc_id") % 7 < 3)
      val inc = docs.filter(col("doc_id") % 7 >= 3)
      val refFp = refDocs.select(
        graft.functions.TextFunctions.fingerprint(col("text")).as("fp"))
      graft.Pipelines.textCuration(inc, langs = Seq("en"), minQuality = 0.3,
          nearDupJaccard = 0.5, md5Hashes = true,
          referenceFp = Some(refFp), referenceNearDup = Some(refDocs))
        .select(col("doc_id"), col("lang"),
          round(col("quality") + 1e-9, 6).as("quality"),
          col("ws_tokens"), col("bpeish_tokens"))
        .orderBy("doc_id")
    }),

    // ---- E6 with the reference near-dup index AMORTIZED at rest:
    // the q125 chain paying only the incoming side of the near-dup
    // stage — the reference band/shingle relations come from the
    // bucketed warehouse tables ([[amortizedRefIndex]], the q128
    // layout), the true per-crawl cost of incremental curation. ----
    "q130_e6_amortized" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val refDocs = docs.filter(col("doc_id") % 7 < 3)
      val inc = docs.filter(col("doc_id") % 7 >= 3)
      val refFp = refDocs.select(
        graft.functions.TextFunctions.fingerprint(col("text")).as("fp"))
      graft.Pipelines.textCuration(inc, langs = Seq("en"), minQuality = 0.3,
          nearDupJaccard = 0.5, md5Hashes = true,
          referenceFp = Some(refFp),
          referenceNearDupIndex = Some(amortizedRefIndex(s, dir)))
        .select(col("doc_id"), col("lang"),
          round(col("quality") + 1e-9, 6).as("quality"),
          col("ws_tokens"), col("bpeish_tokens"))
        .orderBy("doc_id")
    }),

    // ---- E4 full curation: the text-curation chain with EVERY stage
    // on — exact dedup → near-dup → lang → quality → Gopher
    // repetition filter → 3-gram benchmark decontamination → PII
    // scrub → token stats on the scrubbed text. PII is planted on
    // doc_id % 3 (so the dedup stages still see the unplanted
    // duplicates); the held-out benchmark is doc_id % 17. ----
    "q79_full_curation" -> ((s, dir) => {
      val planted = t(s, dir, "documents").withColumn("text",
        when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" contact "), col("source"),
            lit("@example.org call +"), (col("doc_id") % 90 + 10).cast("string"),
            lit(" ("), (col("doc_id") % 900 + 100).cast("string"),
            lit(") 555-"), (col("doc_id") % 9000 + 1000).cast("string")))
          .otherwise(col("text")))
      val bench = planted.filter(col("doc_id") % 17 === 0)
      val train = planted.filter(col("doc_id") % 17 =!= 0)
      graft.Pipelines.textCuration(train, langs = Seq("en"), minQuality = 0.3,
          nearDupJaccard = 0.5, md5Hashes = true,
          maxTopGramFrac = 0.06, maxDupGramFrac = 0.12,
          benchmark = Some(bench), decontamN = 3, maxBenchOverlap = 0.05,
          scrubPii = true)
        .select(col("doc_id"), col("lang"),
          round(col("quality") + 1e-9, 6).as("quality"),
          col("ws_tokens"), col("bpeish_tokens"), md5(col("text")).as("text_md5"))
        .orderBy("doc_id")
    }),

    // ---- PII scrub: count + mask emails/phones. The corpus carries
    // no PII, so the fixture plants it deterministically from
    // (source, doc_id) before scrubbing; the gate hashes the scrubbed
    // text, so both engines must agree on every replacement. ----
    "q76_pii_scrub" -> ((s, dir) => {
      val aug = t(s, dir, "documents").withColumn("text2",
        concat(col("text"), lit(" contact "), col("source"),
          lit("@example.org call +"), (col("doc_id") % 90 + 10).cast("string"),
          lit(" ("), (col("doc_id") % 900 + 100).cast("string"),
          lit(") 555-"), (col("doc_id") % 9000 + 1000).cast("string")))
      aug.select(col("doc_id"),
          piiEmailCount(col("text2")).as("n_email"),
          piiPhoneCount(col("text2")).as("n_phone"),
          md5(piiScrub(col("text2"))).as("scrub_md5"))
        .orderBy("doc_id")
    }),

    // ---- Gopher repetition rules: per-doc top/duplicate 2-gram
    // mass fractions (relational — two keyed shuffles regardless of
    // document length). ----
    "q77_repetition" -> ((s, dir) =>
      TextDedup.repetitionStats(t(s, dir, "documents"), n = 2)
        .select(col("doc_id"), col("n_grams"),
          round(col("top_gram_frac") + 1e-9, 6).as("top_gram_frac"),
          round(col("dup_gram_frac") + 1e-9, 6).as("dup_gram_frac"))
        .orderBy("doc_id")),

    // ---- benchmark decontamination: distinct-3-gram collisions of
    // training docs against the held-out set (doc_id % 17). The
    // operator defaults to 8-grams (the GPT-3 width); the fixture's
    // template vocabulary needs 3 for a non-trivial collision
    // distribution. ----
    "q78_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 17 === 0)
      val train = docs.filter(col("doc_id") % 17 =!= 0)
      TextDedup.contaminationOverlap(train, bench, n = 3)
        .select(col("doc_id"), col("n_grams"), col("n_overlap"),
          round(col("overlap_frac") + 1e-9, 6).as("overlap_frac"))
        .orderBy("doc_id")
    }),

    // ---- exact dedup: content-hash groups ----
    "q30_exact_dedup" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(fingerprint(col("text")).as("fp"))
        .agg(min("doc_id").as("keeper"), count(lit(1)).as("n_docs"))
        .orderBy("fp")
    }),

    // ---- token counting (whitespace + BPE-ish) per source ----
    "q31_token_counts" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("source"), wsTokenCount(col("text")).as("ws"),
          bpeishTokenCount(col("text")).as("bpe"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("ws").as("ws_tokens"),
          sum("bpe").as("bpe_tokens"))
        .orderBy("source")
    }),

    // ---- quality scoring per language ----
    "q32_quality" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("lang"), qualityScore(col("text")).as("q"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          round(avg("q") + 1e-9, 6).as("avg_quality"),
          round(min("q") + 1e-9, 6).as("min_quality"))
        .orderBy("lang")
    }),

    // ---- language identification confusion counts ----
    "q33_lang_id" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("lang"), langId(tokens(col("text"))).as("predicted"))
        .groupBy("lang", "predicted").agg(count(lit(1)).as("n"))
        .orderBy("lang", "predicted")
    }),

    // ---- n-gram Jaccard similarity, aggregated per source ----
    // Relational: |A∩B| from a shingle-row self-join, |A∪B| from
    // per-doc sizes, pair universe C(n,2) analytically — non-
    // intersecting pairs contribute 0 without being materialized.
    "q34_ngram_jaccard" -> ((s, dir) => {
      // df-capped per (source, shingle): a viral shingle would emit
      // df² rows in the self-join below; cap is far above the max df
      // at any test SF, so results are unchanged here.
      val sh = TextDedup.capShingleDf(
          TextDedup.shingleRows(t(s, dir, "documents"), 3, extras = Seq("source")),
          cap = 100000L, groupCols = Seq("source"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val sizes = sh.groupBy("source", "doc_id").agg(count(lit(1)).as("sz"))
      val inter = sh.select(col("source"), col("doc_id").as("id_a"), col("s"))
        .join(sh.select(col("source"), col("doc_id").as("id_b"), col("s")),
          Seq("source", "s"))
        .filter(col("id_a") < col("id_b"))
        .groupBy("source", "id_a", "id_b").agg(count(lit(1)).as("inter"))
      val j = inter
        .join(sizes.select(col("source"), col("doc_id").as("id_a"), col("sz").as("sz_a")),
          Seq("source", "id_a"))
        .join(sizes.select(col("source"), col("doc_id").as("id_b"), col("sz").as("sz_b")),
          Seq("source", "id_b"))
        .withColumn("j", col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
        .groupBy("source").agg(sum("j").as("sum_j"), max("j").as("max_j"))
      val totals = sizes.groupBy("source").agg(count(lit(1)).as("n_docs"))
        .withColumn("n_pairs", (col("n_docs") * (col("n_docs") - 1) / 2).cast("long"))
        .filter(col("n_pairs") > 0)
      totals.join(j, Seq("source"), "left")
        .select(col("source"), col("n_pairs"),
          round(coalesce(col("sum_j"), lit(0.0)) / col("n_pairs") + 1e-9, 6).as("avg_jaccard"),
          round(coalesce(col("max_j"), lit(0.0)) + 1e-9, 6).as("max_jaccard"))
        .orderBy("source")
    }),

    // ---- MinHash + LSH candidate generation + Jaccard verify ----
    "q35_minhash_lsh" -> ((s, dir) => {
      val pairs = TextDedup.minhashLshPairs(t(s, dir, "documents"),
        k = 8, bands = 4, shingleWidth = 3, minJaccard = 0.0, md5Hashes = true)
      pairs.agg(count(lit(1)).as("n_candidates"),
        coalesce(sum((col("jaccard") >= 0.3).cast("long")), lit(0L)).as("n_high"),
        round(avg("jaccard") + 1e-9, 6).as("avg_jaccard"))
    }),

    // ---- cross-source duplication matrix (the mixture-design
    // input): q35's verified near-dup pairs at j >= 0.3 keyed by the
    // ordered source pair — which sources copy from which, how many
    // docs are touched, and how hard. Diagonal rows are internal
    // redundancy; off-diagonal rows are the mass that double-counts
    // a mixture weight. ----
    "q152_source_overlap" -> ((s, dir) => {
      TextDedup.sourceOverlap(t(s, dir, "documents"), minJaccard = 0.3,
          k = 8, bands = 4, shingleWidth = 3, md5Hashes = true)
        .orderBy("source_a", "source_b")
    }),

    // ---- Winnowed document fingerprints (Schleimer–Wilkerson–Aiken
    // SIGMOD'03 — the MOSS algorithm): per-doc stats of the selected
    // (pos, hash) set over k=4 grams, window w=4. min/max window
    // selection runs doc-grain only; density ≈ 2/(w+1). ----
    "q132_winnow_fingerprints" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val fp = TextDedup.winnowFingerprints(docs, k = 4, window = 4,
        md5Hashes = true)
      val stats = fp.groupBy(col("doc_id")).agg(
        count(lit(1)).as("n_fp"),
        countDistinct(col("h")).as("n_hash"),
        min(col("h")).as("min_h"))
      val ng = docs.filter(size(tokens(col("text"))) > 0)
        .select(col("doc_id"),
          greatest(size(tokens(col("text"))) - lit(3), lit(1)).cast("long").as("ng"))
      ng.join(stats, Seq("doc_id"))
        .select(col("doc_id"), col("ng"), col("n_fp"), col("n_hash"), col("min_h"))
        .orderBy("doc_id")
    }),

    // ---- MOSS-style copied-passage detection: doc pairs sharing
    // >= 2 winnowed fingerprint hashes, containment overlap ratio.
    // dfCap stays at its uncapped default so the result matches the
    // exact definition (minhashLshPairs convention: capping changes
    // results for viral-gram corpora, so it is never a silent
    // default — corpus-scale call sites opt in). ----
    "q133_winnow_overlap" -> ((s, dir) => {
      TextDedup.winnowOverlap(t(s, dir, "documents"), k = 4, window = 4,
          minShared = 2, md5Hashes = true)
        .orderBy("id_a", "id_b")
    }),

    // ---- CONTAINMENT dedup: winnowed-overlap pairs (the
    // copied-passage / doc-inside-doc signal whole-doc Jaccard
    // dilutes) at containment >= 0.8 close into components; each
    // cluster keeps its min-id representative. Composes q133's pair
    // machinery with the q92 closure. ----
    "q140_containment_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = TextDedup.winnowOverlap(docs, k = 4, window = 4,
          minShared = 2, md5Hashes = true)
        .filter(col("overlap") >= 0.8)
        .select(col("id_a"), col("id_b"))
      TextDedup.dedupByComponents(docs, pairs)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"),
          md5(concat_ws(",", sort_array(collect_list(col("doc_id"))))).as("kept_md5"))
        .orderBy("source")
    }),

    // ---- q129 with the classifier MODEL AT REST: identical
    // chain semantics, but the NB quality model is a stored warehouse
    // artifact ([[amortizedClassifierModel]]) and the run is
    // APPLY-only — the production pattern (train once, curate many
    // crawls). Shares q129's oracle: fit-then-store-then-apply must
    // reproduce the inline fit exactly (the q128-vs-q123 round-trip
    // proof, for models instead of indexes). ----
    "q141_quality_cluster_amortized" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val (w, prior) = amortizedClassifierModel(s, dir)
      val scores = TextRetrieval.qualityClassifierApply(docs, w, prior)
        .select("doc_id", "score")
      graft.Pipelines.textCuration(docs, langs = Seq("en"), minQuality = 0.3,
          nearDupJaccard = 0.5, md5Hashes = true,
          nearDupClusters = true, clusterQuality = Some(scores))
        .select(col("doc_id"), col("lang"),
          round(col("quality") + 1e-9, 6).as("quality"),
          col("ws_tokens"), col("bpeish_tokens"))
        .orderBy("doc_id")
    }),

    // ---- INCREMENTAL containment dedup: a new crawl against the
    // frozen reference corpus' winnowed-fingerprint index (the
    // q94/q123 split: reference = doc_id % 7 < 3) — the MOSS/
    // copied-passage analogue of q128. An incoming doc sharing >= 2
    // selected hashes with any reference doc at containment >= 0.8
    // is dropped; the reference side reads from the BUCKETED at-rest
    // tables ([[amortizedWinnowIndex]]), so a crawl pays only its own
    // winnowing pass. The oracle replays the asymmetric pair join
    // over the full winnow selection. ----
    "q142_containment_incremental" -> ((s, dir) => {
      val inc = t(s, dir, "documents").filter(col("doc_id") % 7 >= 3)
      val (refFp, refSizes) = amortizedWinnowIndex(s, dir)
      TextDedup.containmentAgainstIndex(inc, refFp, refSizes,
          k = 4, window = 4, minShared = 2, minContainment = 0.8,
          md5Hashes = true)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), min("doc_id").as("first_kept"),
          sum("doc_id").as("sum_ids"))
        .orderBy("source")
    }),

    // ---- winnow-index UPSERT — the containment crawl loop CLOSED
    // (q151's shape on the MOSS family): crawl 1 (doc_id % 7 ∈ {3,4})
    // checks against the generation-0 winnow index; its survivors'
    // fingerprint/size rows MERGE in ([[TextDedup.winnowIndexUpsert]]);
    // crawl 2 (doc_id % 7 ∈ {5,6}) checks the GROWN index, so copied
    // passages of crawl-1 acceptances are caught. Output: per-
    // (generation, source) keep stats; the oracle replays both
    // generations' asymmetric pair joins with the gen-1 reference =
    // ref0 ∪ accepted(crawl 1). ----
    "q166_winnow_upsert" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val m = col("doc_id") % 7
      val (fp0, sz0) = TextDedup.winnowIndex(docs.filter(m < 3),
        k = 4, window = 4, md5Hashes = true)
      val kept1 = graft.model.Workspace.stageCheckpoint(
        TextDedup.containmentAgainstIndex(docs.filter(m === 3 || m === 4),
          fp0, sz0, k = 4, window = 4, minShared = 2,
          minContainment = 0.8, md5Hashes = true),
        "wdx_upsert_kept1")
      val (fp1, sz1) = TextDedup.winnowIndexUpsert(fp0, sz0, kept1,
        k = 4, window = 4, md5Hashes = true)
      val kept2 = TextDedup.containmentAgainstIndex(docs.filter(m >= 5),
        fp1, sz1, k = 4, window = 4, minShared = 2,
        minContainment = 0.8, md5Hashes = true)
      def stats(kept: DataFrame, gen: Int): DataFrame = kept
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), min("doc_id").as("first_kept"),
          sum("doc_id").as("sum_ids"))
        .select(lit(gen).as("generation"), col("source"), col("n_kept"),
          col("first_kept"), col("sum_ids"))
      stats(kept1, 1).unionByName(stats(kept2, 2))
        .orderBy("generation", "source")
    }),

    // ---- winnow-index DELETE — the takedown verb on the containment
    // family (q164's contract): reference docs with doc_id % 11 = 0
    // expunge their fingerprint/size rows, and the crawl checks the
    // FORGETTING index — copied passages of removed docs are admitted
    // again. Oracle: the q142 replay with the reference minus the
    // takedowns — anti-join deletion ≡ rebuild-without. ----
    "q167_winnow_delete" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val ref = docs.filter(col("doc_id") % 7 < 3)
      val inc = docs.filter(col("doc_id") % 7 >= 3)
      val (fp0, sz0) = TextDedup.winnowIndex(ref, k = 4, window = 4,
        md5Hashes = true)
      val takedown = ref.filter(col("doc_id") % 11 === 0).select("doc_id")
      val (fp1, sz1) = TextDedup.winnowIndexDelete(fp0, sz0, takedown)
      TextDedup.containmentAgainstIndex(inc, fp1, sz1,
          k = 4, window = 4, minShared = 2, minContainment = 0.8,
          md5Hashes = true)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), min("doc_id").as("first_kept"),
          sum("doc_id").as("sum_ids"))
        .orderBy("source")
    }),

    // ---- winnow-index COMPACTION — the fifth lifecycle verb
    // (VERDICT r11 #4), the re-cap q167's delete docs defer to:
    // takedowns (doc_id % 11 = 0) expunge their rows, then
    // [[TextDedup.winnowIndexCompact]] re-applies dfCap = 2 over the
    // surviving fingerprint relation and rebuilds the size table; the
    // crawl serves against the COMPACTED index (capped join side,
    // true-mass denominators). dfCap = 1 — aggressive by design: the
    // synthetic fixture's cross-doc hash sharing is thin (max winnow
    // df 3 at sf0.01), and the gate must prove the cap BITES at the
    // driver's SF (measured: keep sets flip at both SFs at cap 1,
    // only at sf0.1 at cap 2); production caps are orders larger and
    // the verb is cap-agnostic. Oracle: a fresh capped build on the
    // survivors — compact ≡ rebuild-with-cap. ----
    "q169_winnow_compact" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val ref = docs.filter(col("doc_id") % 7 < 3)
      val inc = docs.filter(col("doc_id") % 7 >= 3)
      val (fp0, sz0) = TextDedup.winnowIndex(ref, k = 4, window = 4,
        md5Hashes = true)
      val takedown = ref.filter(col("doc_id") % 11 === 0).select("doc_id")
      val (fp1, _) = TextDedup.winnowIndexDelete(fp0, sz0, takedown)
      val (fp2, sz2) = TextDedup.winnowIndexCompact(fp1, dfCap = 1)
      TextDedup.containmentAgainstIndex(inc, fp2, sz2,
          k = 4, window = 4, minShared = 2, minContainment = 0.8,
          md5Hashes = true)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), min("doc_id").as("first_kept"),
          sum("doc_id").as("sum_ids"))
        .orderBy("source")
    }),

    // ---- winnow compaction AT REST — the q169 chain with the
    // compacted generation WRITTEN to the warehouse
    // ([[amortizedCompactedWinnowIndex]]: h-bucketed fingerprint table
    // + size table + build-complete marker) and the crawl served from
    // the re-read tables — the "rewrite the bucketed tables" half of
    // the compaction contract, hash-gated through the store/re-read
    // round trip (the q150 pattern). Shares q169's oracle. ----
    "q171_winnow_compact_amortized" -> ((s, dir) => {
      val inc = t(s, dir, "documents").filter(col("doc_id") % 7 >= 3)
      val (fp2, sz2) = amortizedCompactedWinnowIndex(s, dir)
      TextDedup.containmentAgainstIndex(inc, fp2, sz2,
          k = 4, window = 4, minShared = 2, minContainment = 0.8,
          md5Hashes = true)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), min("doc_id").as("first_kept"),
          sum("doc_id").as("sum_ids"))
        .orderBy("source")
    }),

    // ---- near-dup-index COMPACTION — the same verb on the MinHash
    // family: after q164's takedown, [[TextDedup.nearDupIndexCompact]]
    // re-caps the surviving shingle relation at dfCap = 1 (the q169
    // rationale: caps 2-3 only flip keep sets at sf0.1 — the gate
    // must bite at the driver's sf0.01 too) and
    // RE-DERIVES the band signatures from the capped rows — capping
    // changes each doc's shingle set, hence its MinHash minima, so
    // signatures must be recomputed, never carried. The crawl then
    // serves against the compacted index at j >= 0.3. Oracle: fresh
    // capped build on the survivors, row-grain replay. ----
    "q170_neardup_compact" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val ref = docs.filter(col("doc_id") % 7 < 3)
      val inc = docs.filter(col("doc_id") % 7 >= 3)
      val (bd0, sh0) = TextDedup.nearDupIndex(ref, md5Hashes = true)
      val takedown = ref.filter(col("doc_id") % 11 === 0).select("doc_id")
      val (_, sh1) = TextDedup.nearDupIndexDelete(bd0, sh0, takedown)
      val (bd2, sh2) = TextDedup.nearDupIndexCompact(sh1, md5Hashes = true,
        dfCap = 1)
      TextDedup.nearDupAgainstIndex(inc, bd2, sh2, minJaccard = 0.3,
          md5Hashes = true)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), min("doc_id").as("first_kept"),
          sum("doc_id").as("sum_ids"))
        .orderBy("source")
    }),

    // ---- near-dup compaction AT REST — q171's twin on the MinHash
    // family: the q170 chain with the compacted generation written to
    // the warehouse ([[amortizedCompactedRefIndex]]: band- and
    // shingle-bucketed tables + markers) and the crawl served from
    // the re-read tables. Shares q170's oracle. ----
    "q172_neardup_compact_amortized" -> ((s, dir) => {
      val inc = t(s, dir, "documents").filter(col("doc_id") % 7 >= 3)
      val (bd2, sh2) = amortizedCompactedRefIndex(s, dir)
      TextDedup.nearDupAgainstIndex(inc, bd2, sh2, minJaccard = 0.3,
          md5Hashes = true)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), min("doc_id").as("first_kept"),
          sum("doc_id").as("sum_ids"))
        .orderBy("source")
    }),

    // ---- q136 with the reference LM AT REST: identical CCNet
    // head/middle/tail semantics, but the unigram LM (frequency
    // relation + scalars) is a stored warehouse artifact
    // ([[amortizedLm]]) and the run is apply-only — the reference
    // corpus never re-tokenizes per run. Tercile thresholds still fit
    // per-corpus (they are a property of the corpus being
    // partitioned, not of the model). Shares q136's oracle. ----
    "q144_ccnet_amortized" -> ((s, dir) => {
      val docs0 = t(s, dir, "documents")
      val toks = tokens(col("text"))
      val nPara = ceil(size(toks) / lit(12.0)).cast("int")
      val docs = docs0.filter(size(toks) > 0).select(col("doc_id"), col("lang"),
        concat_ws("\n", transform(sequence(lit(0), nPara - 1),
          i => concat_ws(" ", slice(toks, i * 12 + 1, lit(12))))).as("text"))
      val (freq, nTotal, vocab) = amortizedLm(s, dir)
      TextRetrieval.ccnetBucketsWithLm(docs, freq, nTotal, vocab)
        .orderBy("doc_id")
    }),

    // ---- q131 with the TOKENIZER AT REST: identical per-domain
    // token-budget semantics, but the trained-BPE merge table is a
    // stored warehouse artifact ([[amortizedBpeMerges]]) and the run
    // pays segmentation only — the q141 production pattern for the
    // tokenizer (a versioned artifact every pipeline run encodes
    // against, never refits). Shares q131's oracle: the stored fit is
    // deterministic, so store-then-segment must reproduce the inline
    // fit exactly. ----
    "q143_real_budget_amortized" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = amortizedBpeMerges(s, dir)
      val vocab = docs.select(explode(tokens(col("text"))).as("word")).distinct()
      val nSub = graft.operators.Bpe.segmentFast(vocab, merges)
        .groupBy("word").agg(count(lit(1)).as("n_sub"))
      val docToks = docTokCounts(docs, nSub)
        .withColumn("domain", col("doc_id") % 7)
      TextDedup.capTokensPerKey(docToks, "domain", "toks", budget = 3000L,
          seed = 3, md5Hashes = true)
        .select(col("domain"), col("doc_id"), col("toks"))
        .orderBy("domain", "doc_id")
    }),

    // ---- Near-dup CLUSTERS: connected components over the verified
    // MinHash pair relation (j >= 0.3) — every member labeled with its
    // component's min id, the cluster-dedup representative. The
    // oracle replays the closure with a recursive CTE. ----
    "q92_dup_components" -> ((s, dir) => {
      val pairs = TextDedup.minhashLshPairs(t(s, dir, "documents"),
        k = 8, bands = 4, shingleWidth = 3, minJaccard = 0.3, md5Hashes = true)
      TextDedup.duplicateComponents(pairs)
        .select(col("id").as("doc_id"), col("component"))
        .orderBy("doc_id")
    }),

    // ---- cluster-family UPSERT verb: components maintained
    // incrementally — close HALF the pair graph, then fold the other
    // half into the stored labeling (componentsUpsert). The pair graph
    // is the orders-adjacency chain relation broken into 50-link
    // chains (edge k→k−1 except at k % 50 = 0): chain count scales
    // with SF while chain LENGTH stays bounded, so the recursive-CTE
    // oracle is O(n·50), not O(n²). Edge parities alternate along
    // every chain, so the parity split guarantees chains CROSS the
    // batch boundary — the gate fails unless cross-batch merges
    // re-root correctly. The oracle closes ALL pairs in one recursive
    // CTE — incremental maintenance must be invisible to the result. ----
    "q175_components_upsert" -> ((s, dir) => {
      val pairs = ordersChainPairs(s, dir)
      val batch1 = pairs.filter(col("id_b") % 2 === 0)
      val batch2 = pairs.filter(col("id_b") % 2 =!= 0)
      val base = TextDedup.duplicateComponents(batch1)
      TextDedup.componentsUpsert(base, batch2)
        .select(col("id").as("o_orderkey"), col("component"))
        .orderBy("o_orderkey")
    }),

    // ---- cluster-family AT-REST labeling — the q150/q141 pattern for
    // components (the verb the other three index families already
    // had): the batch-1 labeling is a STORED warehouse table (bucketed
    // by id, published under the marker protocol, so a second session
    // re-registers it instead of re-closing history), and the run is
    // apply-only — fold batch 2 into the stored star forest. Shares
    // q175's oracle: store-then-upsert must equal the one-shot closure
    // over every pair, so the warehouse round trip is invisible to the
    // result. ----
    "q176_components_at_rest" -> ((s, dir) => {
      val labels = amortizedComponentLabels(s, dir)
      val batch2 = ordersChainPairs(s, dir).filter(col("id_b") % 2 =!= 0)
      TextDedup.componentsUpsert(labels, batch2)
        .select(col("id").as("o_orderkey"), col("component"))
        .orderBy("o_orderkey")
    }),

    // ---- quality-keyed cluster representatives: same component
    // closure as q92, but each cluster keeps its BEST member
    // (max n_chars, min-id tie-break) — the RefinedWeb/Dolma keep
    // policy, as two keyed aggregations (no windows). ----
    "q122_component_winners" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = TextDedup.minhashLshPairs(docs,
        k = 8, bands = 4, shingleWidth = 3, minJaccard = 0.3, md5Hashes = true)
      TextDedup.componentWinners(docs, pairs, col("n_chars"))
        .orderBy("component")
    }),

    // ---- INCREMENTAL dedup: a new crawl against a reference corpus.
    // Reference = docs with doc_id % 7 < 3 (a deterministic "previous
    // crawl"); incoming = the rest. Bloom sketch prunes, exact
    // anti-join confirms — the result is exactly NOT EXISTS, which is
    // what the oracle replays. fpp = 0.5 deliberately floods the
    // confirm path so both exits are exercised at every SF. ----
    "q94_bloom_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val ref = docs.filter(col("doc_id") % 7 < 3)
        .select(fingerprint(col("text")).as("fp"))
      val incoming = docs.filter(col("doc_id") % 7 >= 3)
      TextDedup.dedupAgainstReference(incoming, ref, fpp = 0.5)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), min("doc_id").as("first_kept"),
          sum("doc_id").as("sum_ids"))
        .orderBy("source")
    }),

    // ---- incremental NEAR-dup: new crawl vs a frozen reference
    // corpus (the q94 split), banded-MinHash candidates against the
    // reference signature index + exact Jaccard verify (≥ 0.3) — an
    // incoming doc near-dupping ANY reference doc is dropped ----
    "q123_neardup_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val ref = docs.filter(col("doc_id") % 7 < 3)
      val inc = docs.filter(col("doc_id") % 7 >= 3)
      TextDedup.nearDupAgainstReference(inc, ref, minJaccard = 0.3,
          k = 8, bands = 4, shingleWidth = 3, md5Hashes = true)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), min("doc_id").as("first_kept"),
          sum("doc_id").as("sum_ids"))
        .orderBy("source")
    }),

    // ---- q123 with the reference index AMORTIZED at rest: the same
    // incremental near-dup semantics, but the reference band/shingle
    // relations are read from bucketed warehouse tables written once
    // per fixture ([[amortizedRefIndex]]) instead of derived inline
    // per run — the true per-crawl cost of the incremental pipeline.
    // The gate doubles as the round-trip proof: writing the index
    // bucketed and re-reading it must preserve the q123 keep set
    // exactly (shared oracle). ----
    "q128_neardup_amortized" -> ((s, dir) => {
      val inc = t(s, dir, "documents").filter(col("doc_id") % 7 >= 3)
      val (refBands, refShingles) = amortizedRefIndex(s, dir)
      TextDedup.nearDupAgainstIndex(inc, refBands, refShingles,
          minJaccard = 0.3, k = 8, bands = 4, shingleWidth = 3,
          md5Hashes = true)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), min("doc_id").as("first_kept"),
          sum("doc_id").as("sum_ids"))
        .orderBy("source")
    }),

    // ---- near-dup index UPSERT — the crawl loop CLOSED: crawl 1
    // (doc_id % 7 ∈ {3,4}) checks against the generation-0 reference
    // index; its accepted docs' band/shingle rows MERGE into the
    // index ([[TextDedup.nearDupIndexUpsert]]); crawl 2
    // (doc_id % 7 ∈ {5,6}) then checks against the GROWN index, so
    // near-dups of crawl-1 acceptances — invisible to a frozen
    // index — are caught. Output: per-(generation, source) keep
    // stats; the oracle replays both generations' drop chains with
    // the gen-1 reference = ref0 ∪ accepted(crawl 1). ----
    "q151_neardup_upsert" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val m = col("doc_id") % 7
      val (b0, s0) = TextDedup.nearDupIndex(docs.filter(m < 3),
        k = 8, bands = 4, shingleWidth = 3, md5Hashes = true)
      val kept1 = graft.model.Workspace.stageCheckpoint(
        TextDedup.nearDupAgainstIndex(docs.filter(m === 3 || m === 4),
          b0, s0, minJaccard = 0.3, k = 8, bands = 4, shingleWidth = 3,
          md5Hashes = true),
        "ndx_upsert_kept1")
      val (b1, s1) = TextDedup.nearDupIndexUpsert(b0, s0, kept1,
        k = 8, bands = 4, shingleWidth = 3, md5Hashes = true)
      val kept2 = TextDedup.nearDupAgainstIndex(docs.filter(m >= 5),
        b1, s1, minJaccard = 0.3, k = 8, bands = 4, shingleWidth = 3,
        md5Hashes = true)
      def stats(kept: DataFrame, gen: Int): DataFrame = kept
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), min("doc_id").as("first_kept"),
          sum("doc_id").as("sum_ids"))
        .select(lit(gen).as("generation"), col("source"), col("n_kept"),
          col("first_kept"), col("sum_ids"))
      stats(kept1, 1).unionByName(stats(kept2, 2))
        .orderBy("generation", "source")
    }),

    // ---- near-dup index DELETE — the takedown verb closing the
    // index lifecycle (build / query / upsert / delete): a removal
    // batch (reference docs with doc_id % 11 = 0) expunges its band
    // and shingle rows ([[TextDedup.nearDupIndexDelete]]), and the
    // next crawl checks against the FORGETTING index — near-copies
    // of removed docs are admitted again, exactly the
    // copyright/privacy contract. The oracle replays the q123 drop
    // chain with the reference slice minus the takedowns: anti-join
    // deletion must equal rebuild-without-removed. ----
    "q164_index_delete" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val ref = docs.filter(col("doc_id") % 7 < 3)
      val inc = docs.filter(col("doc_id") % 7 >= 3)
      val (b0, s0) = TextDedup.nearDupIndex(ref,
        k = 8, bands = 4, shingleWidth = 3, md5Hashes = true)
      val takedown = ref.filter(col("doc_id") % 11 === 0).select("doc_id")
      val (b1, s1) = TextDedup.nearDupIndexDelete(b0, s0, takedown)
      TextDedup.nearDupAgainstIndex(inc, b1, s1,
          minJaccard = 0.3, k = 8, bands = 4, shingleWidth = 3,
          md5Hashes = true)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), min("doc_id").as("first_kept"),
          sum("doc_id").as("sum_ids"))
        .orderBy("source")
    }),

    // ---- per-source vocabulary stats (Zipf shape): vocab size,
    // hapax count, top-token share — corpus drift monitoring ----
    "q98_vocab_stats" -> ((s, dir) => {
      val tok = t(s, dir, "documents")
        .select(col("source"), explode(tokens(col("text"))).as("tk"))
      tok.groupBy("source", "tk").agg(count(lit(1)).as("c"))
        .groupBy("source")
        .agg(count(lit(1)).as("vocab"), sum("c").as("tokens"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax"),
          max("c").as("top_count"))
        .withColumn("top_share",
          round(col("top_count").cast("double") / col("tokens") + 1e-9, 6))
        .orderBy("source")
    }),

    // ---- deterministic train/val/test split carving: multi-way
    // md5-threshold assignment, zero shuffle; thresholds shared with
    // the oracle by construction (splitThresholds) ----
    "q97_split_assign" -> ((s, dir) => {
      TextDedup.assignSplits(t(s, dir, "documents"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = 11)
        .groupBy("source", "split")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("first_id"),
          sum("doc_id").as("sum_ids"))
        .orderBy("source", "split")
    }),

    // ---- corpus DATASHEET (the dataset-card table a data team
    // ships with a corpus): per-source doc/token/vocab mass, language
    // purity, exact-duplicate rate (corpus-wide winners, attributed
    // to the duplicate's source), and mean quality — every signal on
    // its established convention (q30/q31/q32/q33/q98). ----
    "q159_corpus_datasheet" -> ((s, dir) => {
      import graft.functions.TextFunctions.{fingerprint, langId, qualityScore, tokens}
      val base = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"),
          tokens(col("text")).as("toks"))
        .withColumn("lang_pred", langId(col("toks")))
        .withColumn("q", qualityScore(col("text")))
        .withColumn("fp", fingerprint(col("text")))
      val winners = base.groupBy("fp").agg(min("doc_id").as("__w"))
      val flagged = base.join(winners, Seq("fp"))
        .withColumn("is_dup", col("doc_id") =!= col("__w"))
      val ps = flagged.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(size(col("toks"))).cast("long").as("ws_tokens"),
        round(avg(when(col("lang_pred") === "en", 1.0).otherwise(0.0)) + 1e-9, 4)
          .as("pct_en"),
        round(avg(when(col("is_dup"), 1.0).otherwise(0.0)) + 1e-9, 4)
          .as("dup_rate"),
        round(avg("q") + 1e-9, 6).as("avg_quality"))
      val vocab = base.select(col("source"), explode(col("toks")).as("w"))
        .groupBy("source").agg(countDistinct(col("w")).as("vocab"))
      ps.join(vocab, Seq("source"))
        .select(col("source"), col("n_docs"), col("ws_tokens"), col("vocab"),
          col("pct_en"), col("dup_rate"), col("avg_quality"))
        .orderBy("source")
    }),

    // ---- train/test LEAKAGE audit (the split-side complement of
    // benchmark decontamination): q97's hash splits + q35's verified
    // near-dup pairs — pairs CROSSING a split boundary, per ordered
    // split pair. Non-empty output = eval contamination despite
    // id-disjoint splits (hash-splitting scatters twins). ----
    "q155_split_leakage" -> ((s, dir) => {
      TextDedup.splitLeakage(t(s, dir, "documents"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = 11,
          minJaccard = 0.3, md5Hashes = true)
        .orderBy("split_a", "split_b")
    }),

    // ---- self-balancing mix: mixtureWeights DERIVES alpha=0.25
    // rates from per-domain token mass, rateThresholds quantizes them
    // to exact-Bernoulli hex thresholds, sampleByRate APPLIES them —
    // the full decide-then-apply mixing loop in one gated chain ----
    "q105_auto_mix" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), (col("doc_id") % 6).as("domain"),
          TextFunctions.wsTokenCount(col("text")).as("toks"))
      val w = TextDedup.mixtureWeights(docs, "domain", "toks",
        alpha = 0.25, totalBudget = 5000L)
      TextDedup.sampleByRate(docs, "domain",
          TextDedup.rateThresholds(w, "domain"), seed = 13)
        .groupBy("domain")
        .agg(count(lit(1)).as("n_kept"), sum("toks").as("toks_kept"),
          min("doc_id").as("first_id"), sum("doc_id").as("sum_ids"))
        .orderBy("domain")
    }),

    // ---- shard manifest: seeded-md5 training-order shuffle ->
    // 64-doc shards via the range-partition + stitch rank (no global
    // window); shard-grain output pins the FULL within-shard order
    // through the order_md5 over pos-sorted doc ids ----
    // ---- perplexity-style quality scoring: per-doc cross-entropy
    // under the corpus's own add-one unigram distribution (the CCNet
    // LM-filter recipe in vocabulary-free relational form) ----
    "q109_unigram_ppl" -> ((s, dir) => {
      TextRetrieval.unigramCrossEntropy(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_tokens"),
          round(col("xent") + 1e-7, 4).as("xent"))
        .orderBy("doc_id")
    }),

    // ---- Gopher document-shape rules: explicit per-rule verdicts
    // (word bounds, mean word length, symbol ratio, alphabetic
    // fraction, stop-word floor) with per-rule failure counts ----
    "q115_gopher_rules" -> ((s, dir) => {
      // minStopWords = 1: the synthetic corpus contains at most ONE of
      // the 8 Gopher stop words ("the"), so the paper's >= 2 distinct
      // threshold would fail every document — threshold 1 keeps the
      // distinct-count rule exercised in both directions
      TextDedup.gopherRules(t(s, dir, "documents"), minWords = 20,
        minStopWords = 1)
        .agg(count(lit(1)).as("n_docs"),
          sum(when(!col("ok_words"), 1L).otherwise(0L)).as("fail_words"),
          sum(when(!col("ok_word_len"), 1L).otherwise(0L)).as("fail_word_len"),
          sum(when(!col("ok_symbols"), 1L).otherwise(0L)).as("fail_symbols"),
          sum(when(!col("ok_alpha"), 1L).otherwise(0L)).as("fail_alpha"),
          sum(when(!col("ok_stop"), 1L).otherwise(0L)).as("fail_stop"),
          sum(when(col("pass"), 1L).otherwise(0L)).as("n_pass"),
          sum(when(col("pass"), col("doc_id"))).as("sum_pass_ids"))
    }),

    // ---- Gopher rules wired INTO the curation chain: the shape
    // battery runs as textCuration's FIRST stage (cheapest filter
    // before any shuffle, pre-dedup per the paper's order), and the
    // report pairs per-rule failure counts on the chain INPUT with
    // the surviving corpus after the full chain — the per-rule drop
    // accounting a production corpus pass publishes. (At scale the
    // report and the in-chain filter would share one cached
    // gopherRules relation; here they are two cheap projections.) ----
    "q116_gopher_curation" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val report = TextDedup.gopherRules(docs, minWords = 20,
        minStopWords = 1)
        .agg(count(lit(1)).as("n_docs"),
          sum(when(!col("ok_words"), 1L).otherwise(0L)).as("fail_words"),
          sum(when(!col("ok_word_len"), 1L).otherwise(0L)).as("fail_word_len"),
          sum(when(!col("ok_symbols"), 1L).otherwise(0L)).as("fail_symbols"),
          sum(when(!col("ok_alpha"), 1L).otherwise(0L)).as("fail_alpha"),
          sum(when(!col("ok_stop"), 1L).otherwise(0L)).as("fail_stop"),
          sum(when(col("pass"), 1L).otherwise(0L)).as("n_shape_pass"))
      val survivors = graft.Pipelines.textCuration(docs, langs = Seq("en"),
          minQuality = 0.3, nearDupJaccard = 0.5, md5Hashes = true,
          gopherMinWords = Some(20), gopherMinStopWords = 1)
        .agg(count(lit(1)).as("n_kept"),
          sum(col("doc_id")).as("sum_kept_ids"),
          sum(col("ws_tokens")).as("kept_ws_tokens"))
      report.crossJoin(survivors)
    }),

    // ---- snapshot diff: the incremental-crawl audit. The "next
    // crawl" is derived deterministically from the fixture: docs with
    // id % 7 == 0 vanish, id % 5 == 0 (and not dropped) get rewritten
    // text, and a shifted-id copy of every id % 11 == 0 doc arrives
    // as new. Per-status counts + id checksums. ----
    "q114_snapshot_diff" -> ((s, dir) => {
      val before = t(s, dir, "documents").select("doc_id", "text")
      val after = before.filter(col("doc_id") % 7 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" [rev2]")))
            .otherwise(col("text")))
        .unionByName(before.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      TextDedup.snapshotDiff(before, after)
        .groupBy("status")
        .agg(count(lit(1)).as("n"), sum("doc_id").as("sum_ids"),
          min("doc_id").as("min_id"), max("doc_id").as("max_id"))
        .orderBy("status")
    }),

    // ---- bigram (conditional) cross-entropy: fluency scoring — the
    // only window is doc-grain lead() over token positions ----
    "q111_bigram_ppl" -> ((s, dir) => {
      TextRetrieval.bigramCrossEntropy(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_bigrams"),
          round(col("xent2") + 1e-7, 4).as("xent2"))
        .orderBy("doc_id")
    }),

    // ---- interpolated Kneser–Ney bigram cross-entropy: the KenLM
    // smoothing family (absolute discount + continuation-probability
    // backoff), discount estimated from the bigram count-of-counts;
    // the full model fit replays relationally in the oracle ----
    "q120_kneser_ney_ppl" -> ((s, dir) => {
      TextRetrieval.kneserNeyCrossEntropy(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_bigrams"),
          round(col("xent_kn") + 1e-7, 4).as("xent_kn"))
        .orderBy("doc_id")
    }),

    // ---- the perplexity FILTER closed loop (decide→apply, the q105
    // pattern): score every doc (rounded 4dp, engine-identical),
    // derive the corpus 80th-percentile threshold from the ROUNDED
    // scores, keep docs at or below it, report per-source survivors.
    // The interpolated percentile arithmetic is identical in Spark
    // percentile() and DuckDB quantile_cont(), so the threshold
    // matches bit-for-bit given identical inputs. ----
    "q112_ppl_filter" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // materialize the scored relation once: the percentile aggregate
      // and the survivor filter otherwise re-run the whole scoring
      // chain (Spark shares no subplan across the crossJoin)
      val scored = TextRetrieval.unigramCrossEntropy(docs)
        .select(col("doc_id"), col("n_tokens"),
          round(col("xent") + 1e-7, 4).as("x4"))
        .localCheckpoint(true)
      val thr = scored.agg(expr("percentile(x4, 0.8)").as("thr"))
      scored.crossJoin(broadcast(thr)).filter(col("x4") <= col("thr"))
        .join(docs.select("doc_id", "source"), Seq("doc_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"),
          sum("n_tokens").as("tokens_kept"),
          round(avg("x4") + 1e-7, 4).as("avg_xent"),
          min("doc_id").as("first_id"))
        .orderBy("source")
    }),

    "q102_shard_manifest" -> ((s, dir) => {
      val m = TextDedup.shardManifest(t(s, dir, "documents"),
        docsPerShard = 64L, seed = 9, md5Hashes = true)
      m.groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), min("rank").as("first_rank"),
          md5(concat_ws(",",
            transform(array_sort(collect_list(struct(col("pos_in_shard"), col("doc_id")))),
              x => x.getField("doc_id").cast("string")))).as("order_md5"))
        .orderBy("shard")
    }),

    // ---- temperature-scaled mixture weights: per-source token mass
    // -> alpha=0.5 rebalanced weights -> 50k-token budgets + rates;
    // one corpus-grain aggregation, everything after key-grain ----
    "q101_temp_mixture" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("source"), TextFunctions.wsTokenCount(col("text")).as("toks"))
      TextDedup.mixtureWeights(docs, "source", "toks",
          alpha = 0.5, totalBudget = 50000L)
        .orderBy("source")
    }),

    // ---- BM25 keyword retrieval: top-10 documents per query via the
    // bounded TopKPairs aggregate (no global sort, no content-keyed
    // window); scores rounded before ranking so ranks replay ----
    "q100_bm25_topk" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val queries = Seq(
        (1L, "spark"), (1L, "join"),
        (2L, "window"), (2L, "merge"), (2L, "scan"),
        (3L, "vector"), (3L, "hash")).toDF("query_id", "term")
      TextRetrieval.bm25TopK(t(s, dir, "documents"), queries, k = 10)
        .orderBy("query_id", "rank")
    }),

    // ---- per-document TF-IDF top-k keywords; ranks deterministic
    // via rounded-score ordering with token tie-breaks ----
    "q96_tfidf_topk" -> ((s, dir) => {
      TextDedup.tfIdfTopK(t(s, dir, "documents"), k = 5)
        .orderBy("doc_id", "rank")
    }),

    // ---- exact-substring (repeated-span) dedup: any 5-token span
    // shared verbatim by >= 2 docs is masked everywhere; the oracle
    // replays windows, coverage running-max, and reassembly. ----
    "q95_repeated_spans" -> ((s, dir) => {
      TextDedup.removeRepeatedSpans(t(s, dir, "documents"), n = 5, minDocs = 2)
        .select(col("doc_id"), md5(col("text_clean")).as("clean_md5"),
          col("n_tokens"), col("n_removed"))
        .orderBy("doc_id")
    }),

    // ---- SimHash fingerprints (32-bit, engine-portable bit votes) ----
    // Relational form: one md5 per (doc, token-occurrence) row, all
    // 32 bit votes as conditional sums in a single aggregation.
    "q36_simhash" -> ((s, dir) => {
      val tok = t(s, dir, "documents")
        .select(col("doc_id"), explode(tokens(col("text"))).as("tk"))
        .withColumn("h", md5(col("tk")))
      val votes = (0 until 32).map(i =>
        sum(when(substring(col("h"), i + 1, 1) < "8", 1).otherwise(-1)).as(s"v$i"))
      tok.groupBy("doc_id").agg(votes.head, votes.tail: _*)
        .select(col("doc_id"),
          (0 until 32).map(i => when(col(s"v$i") > 0, lit(1L << i)).otherwise(lit(0L)))
            .reduce(_ + _).as("simhash"))
        .orderBy("doc_id")
    }),

    // ---- brute-force cosine top-k over embeddings ----
    "q37_cosine_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
        .select(col("query_id"), col("corpus_id"), col("rank"),
          round(col("cosine") + 1e-9, 6).as("cosine"))
        .orderBy("query_id", "rank")
    }),

    // ---- k-NN majority-vote label accuracy (ANN evaluation) ----
    // Queries are a BOUNDED sample (vec_id < 200): the broadcast side
    // of bruteForceTopK must never be the whole corpus — a fixed-size
    // evaluation panel gives the same accuracy estimate at any N and
    // keeps the plan (bounded broadcast) legal at 100 TB.
    "q38_knn_label" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val knn = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 200), k = 5)
      val labels = emb.select(col("vec_id"), col("label"))
      val votes = knn
        .join(labels.withColumnRenamed("vec_id", "corpus_id")
          .withColumnRenamed("label", "n_label"), Seq("corpus_id"))
        .groupBy("query_id", "n_label").agg(count(lit(1)).as("v"))
      val pred = votes.withColumn("rn", row_number().over(
          Window.partitionBy("query_id").orderBy(col("v").desc, col("n_label").asc)))
        .filter(col("rn") === 1)
        .select(col("query_id").as("vec_id"), col("n_label").as("predicted"))
      pred.join(labels, Seq("vec_id"))
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          sum((col("predicted") === col("label")).cast("long")).as("n_correct"))
        .orderBy("label")
    }),

    // ---- embedding-cosine near-duplicate pairs (banded-LSH plan;
    // the all-pairs oracle doubles as a 100%-recall gate: the
    // deterministic 16×2-bit band family catches every fixture pair
    // ≥ 0.4 at all three SFs, verified offline, so the hash matches
    // the exact answer) ----
    "q57_embed_dup" -> ((s, dir) => {
      TextDedup.embeddingDupPairs(t(s, dir, "embeddings"), threshold = 0.4, dim = 64)
        .select(col("id_a"), col("id_b"), round(col("cosine") + 1e-9, 6).as("cosine"))
        .orderBy("id_a", "id_b")
    }),

    // ---- SemDeDup: k-means cells (the q40 Lloyd fit, fully replayed
    // in the oracle) + within-cell pairwise cosine, dropping the
    // higher id of any τ-similar pair. τ=0.25 exercises the machinery
    // on this fixture's near-random embeddings (the q57 caveat: the
    // paper's regime is high τ on clusterable corpora — the hash gate
    // checks fit + assignment + pair algebra + keep rule, not the
    // statistical regime). ----
    "q117_semdedup" -> ((s, dir) => {
      Similarity.semDedup(t(s, dir, "embeddings"), nCells = 8, tau = 0.25,
          dim = 64, iters = 10, md5Sample = true)
        .orderBy("vec_id")
    }),

    // ---- semantic decontamination: the asymmetric SemDeDup — drop
    // corpus vectors τ-similar to ANY benchmark-panel vector (the
    // embedding-space leak sweep exact n-gram decontamination cannot
    // catch once a benchmark item is paraphrased). The panel is
    // PLANTED: perturbed copies of the first 20 corpus vectors
    // (double-precision affine x·0.9 + 0.01, rounded back to float —
    // both engines replay the IEEE arithmetic bit-identically), so
    // the τ=0.95 sweep must find exactly those leaked originals. Fit
    // + probe fan-out + verify all replay in the oracle (the q40/q117
    // Lloyd CTEs + a bench-side probe ranking). ----
    "q145_semantic_decon" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val bench = emb.filter(col("vec_id") < 20)
        .select((col("vec_id") + 100000L).as("vec_id"),
          transform(col("embedding"),
            x => (x.cast("double") * lit(0.9) + lit(0.01)).cast("float"))
            .as("embedding"))
      Similarity.semDecontaminate(emb, bench, nCells = 8, tau = 0.95,
          dim = 64, iters = 10, nProbe = 2, md5Sample = true)
        .orderBy("vec_id")
    }),

    // ---- DSIR importance resampling: hashed unigram+bigram buckets
    // (md5-prefix bucketing, 256 buckets), add-1 smoothed target/raw
    // log-ratio weights, deterministic Gumbel-top-k selection (the
    // paper's sampler with md5-derived uniforms). Target = the
    // fixture's English slice. ----
    "q118_dsir_select" -> ((s, dir) => {
      TextRetrieval.dsirSelect(t(s, dir, "documents"), col("lang") === "en",
          k = 100, hexChars = 2)
        .select(col("doc_id"), col("n_feats"),
          round(col("weight") + 1e-7, 4).as("weight"),
          col("gumbel_key"), col("selected"))
        .orderBy("doc_id")
    }),

    // ---- trained quality classifier: multinomial Naive Bayes over
    // the DSIR hashed feature space — closed-form class-conditional
    // log-ratio weights + class-prior bias (chosen over iterative
    // logistic GD so the ENTIRE fit replays in the oracle as plain
    // relational algebra), applied to every document. ----
    "q119_quality_classifier" -> ((s, dir) => {
      TextRetrieval.qualityClassifierScores(t(s, dir, "documents"),
          col("lang") === "en")
        .orderBy("doc_id")
    }),

    // ---- held-out classifier evaluation: deterministic md5 81/19
    // train/test split, NB fit on train ONLY (total bucket-space
    // weights so unseen-in-train buckets score the smoothed prior),
    // apply to the held-out slice, confusion-matrix aggregate. The
    // generalization check q119's self-train form cannot give. ----
    "q121_classifier_holdout" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val isTrain = substring(md5(concat_ws("#", lit("holdout"),
        col("doc_id").cast("string"))), 1, 1) < "d"
      val (w, prior) = TextRetrieval.qualityClassifierFit(
        docs.filter(isTrain), col("lang") === "en")
      TextRetrieval.qualityClassifierApply(docs.filter(!isTrain), w, prior)
        .join(docs.select(col("doc_id"), (col("lang") === "en").as("actual")),
          Seq("doc_id"))
        .groupBy("actual", "predicted")
        .agg(count(lit(1)).as("n"), sum("n_feats").as("n_feats"),
          round(avg("score") + 1e-7, 4).as("avg_score"),
          min("doc_id").as("first_id"))
        .orderBy("actual", "predicted")
    }),

    // ---- hyperplane-LSH ANN (production path; rows-only check) ----
    "q39_lsh_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 50), k = 5,
          dim = 64, bitsPerBand = 6, nBands = 4)
        .select(col("query_id"), col("corpus_id"), col("rank"),
          round(col("cosine") + 1e-9, 6).as("cosine"))
        .orderBy("query_id", "rank")
    }),

    // ---- IVF ANN with the deterministic Lloyd quantizer: the fit
    // itself (10 assignment/update rounds over the hash-uniform
    // sample, seeded from its 8 first vectors) replays in the
    // oracle, so the query is fully hash-checked ----
    "q40_ivf_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = Similarity.lloydCentroids(emb, nCells = 8, iters = 10, dim = 64,
        md5Sample = true)
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 20), k = 5,
          nCells = 8, nProbe = 3, centroids = Some(cents))
        .select(col("query_id"), col("corpus_id"), col("rank"),
          round(col("cosine") + 1e-9, 6).as("cosine"))
        .orderBy("query_id", "rank")
    }),

    // ---- product quantization: 4×16-code books fit by the bounded
    // deterministic Lloyd per subspace; encoding is zero-shuffle
    // literal-baked argmin codegen. The oracle replays the whole fit
    // (the q40 machinery with a subspace key) and the assignment. ----
    "q103_pq_codes" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val books = Similarity.pqFit(emb, m = 4, ksub = 16, iters = 5, dim = 64,
        md5Sample = true)
      Similarity.pqEncode(emb, books)
        .select(col("vec_id"), col("sub"), col("code"))
        .orderBy("vec_id", "sub")
    }),

    // ---- PQ ADC top-k: per-query centroid lookup tables, distances
    // as m-row sums over the byte-sized code relation (the full float
    // vectors never rescan at probe time), bounded TopKPairs ranking
    // on the rounded distance. ----
    "q104_pq_adc_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val books = Similarity.pqFit(emb, m = 4, ksub = 16, iters = 5, dim = 64,
        md5Sample = true)
      val codes = Similarity.pqEncode(emb, books)
      Similarity.pqTopK(codes, emb.filter(col("vec_id") < 20), books, k = 5)
        .orderBy("query_id", "rank")
    }),

    // ---- RESIDUAL IVF-PQ (true FAISS IVFPQ): books fit on
    // r = v − centroid(cell), codes span only within-cell spread,
    // LUTs are per-(query, probed cell) against the query residual.
    // Oracle: coarse chain → residual relation → PQ chain OVER the
    // residuals → per-cell LUT/ADC. ----
    "q113_ivfpq_residual" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = Similarity.lloydCentroids(emb, nCells = 8, iters = 10, dim = 64,
        md5Sample = true)
      val books = Similarity.pqFitResidual(emb, cents, m = 4, ksub = 16, iters = 5,
        dim = 64, md5Sample = true)
      val codes = Similarity.pqEncodeResidual(emb, books, cents)
      Similarity.ivfPqTopKResidual(emb.filter(col("vec_id") < 20), codes, k = 5,
          nProbe = 3, books = books, centroids = cents)
        .orderBy("query_id", "rank")
    }),

    // ---- FAISS refine stage: the q113 residual-IVF-PQ probe widened
    // to the ADC top-15, then candidates re-ranked by EXACT cosine
    // from the original vectors (IndexRefine) — recall bought back at
    // cost proportional to k', never N. ----
    "q139_ivfpq_refine" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = Similarity.lloydCentroids(emb, nCells = 8, iters = 10, dim = 64,
        md5Sample = true)
      val books = Similarity.pqFitResidual(emb, cents, m = 4, ksub = 16, iters = 5,
        dim = 64, md5Sample = true)
      val codes = Similarity.pqEncodeResidual(emb, books, cents)
      val cand = Similarity.ivfPqTopKResidual(emb.filter(col("vec_id") < 20), codes,
        k = 15, nProbe = 3, books = books, centroids = cents)
      Similarity.refineTopK(cand, emb, k = 5)
        .select(col("query_id"), col("corpus_id"), col("rank"),
          round(col("cosine") + 1e-9, 6).as("cosine"))
        .orderBy("query_id", "rank")
    }),

    // ---- k-NN graph by NN-Descent (Dong 2011 — the graph-ANN
    // family's build step): seeded co-bucket random init, two
    // local-join iterations (neighbors + id-capped reverse neighbors
    // as each node's adjacency, all in-adjacency pairs scored,
    // rounded-cosine top-k kept). The oracle replays the init and
    // BOTH iterations as materialized CTE rounds (the Lloyd/BPE
    // pattern). ----
    "q148_knn_graph" -> ((s, dir) => {
      Similarity.knnGraphDescent(t(s, dir, "embeddings"), k = 5, iters = 2,
          dim = 64)
        .orderBy("vec_id", "rank")
    }),

    // ---- k-NN graph DELETE — the takedown verb on the VECTOR index
    // (q164's contract on the graph artifact): removed nodes'
    // adjacency drops, survivors drop dangling edges and recompact
    // ranks; degree may fall below k until the next refresh (HNSW
    // tombstone-then-compact). The oracle replays the q148 chain and
    // applies the same filter + re-rank. ----
    "q165_graph_delete" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val g = Similarity.knnGraphDescent(emb, k = 5, iters = 2, dim = 64)
      Similarity.knnGraphDelete(g,
          emb.filter(col("vec_id") % 13 === 0).select("vec_id"))
        .orderBy("vec_id", "rank")
    }),

    // ---- k-NN graph COMPACTION — delete then REFRESH: one
    // NN-Descent local-join round over the tombstone-deleted graph
    // restricted to survivors ([[Similarity.knnGraphRefresh]] — the
    // same iteration body as the build, shared code), refilling the
    // degree holes the dangling-edge removal left from each node's
    // 2-hop neighborhood. Removed nodes cannot re-enter (absent from
    // both state and corpus). The oracle replays the q148 chain, the
    // delete filter, and one more generalized iteration round over
    // the survivor universe. ----
    "q168_graph_compact" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val g = Similarity.knnGraphDescent(emb, k = 5, iters = 2, dim = 64)
      val del = Similarity.knnGraphDelete(g,
        emb.filter(col("vec_id") % 13 === 0).select("vec_id"))
      Similarity.knnGraphRefresh(del,
          emb.filter(col("vec_id") % 13 =!= 0), k = 5)
        .orderBy("vec_id", "rank")
    }),

    // ---- graph-ANN serving: beam search over the q148 NN-Descent
    // graph — hash-ranked entry points, three expand/re-rank beam
    // rounds along graph edges, exact-cosine ranking throughout.
    // Queries are the q145 planted external panel (perturbed copies
    // of 20 corpus vectors), so the search must walk to each query's
    // corpus original. Per-query work is O(rounds·beam·k) —
    // corpus-size-independent, the graph-index contract. ----
    "q149_graph_search" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val graph = Similarity.knnGraphDescent(emb, k = 5, iters = 2, dim = 64)
      val qs = emb.filter(col("vec_id") < 20)
        .select((col("vec_id") + 100000L).as("vec_id"),
          transform(col("embedding"),
            x => (x.cast("double") * lit(0.9) + lit(0.01)).cast("float"))
            .as("embedding"))
      Similarity.graphSearchTopK(graph, emb, qs, k = 5, beam = 8,
          rounds = 3, entries = 4)
        .orderBy("query_id", "rank")
    }),

    // ---- graph-ANN serving over the AT-REST graph: the q149 search
    // with the NN-Descent graph read from its bucketed warehouse
    // table instead of rebuilt inline — the amortization receipt for
    // the GRAPH index (the q128/q141/q143/q144 pattern). Shares
    // q149's oracle: the build is deterministic, so the store/
    // re-read round trip is hash-gated, not argued. ----
    "q150_graph_amortized" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val graph = amortizedKnnGraph(s, dir)
      val qs = emb.filter(col("vec_id") < 20)
        .select((col("vec_id") + 100000L).as("vec_id"),
          transform(col("embedding"),
            x => (x.cast("double") * lit(0.9) + lit(0.01)).cast("float"))
            .as("embedding"))
      Similarity.graphSearchTopK(graph, emb, qs, k = 5, beam = 8,
          rounds = 3, entries = 4)
        .orderBy("query_id", "rank")
    }),

    // ---- scalar quantization (FAISS SQ8 — the missing classic of
    // the quantization family next to PQ/IVF-PQ): per-dim affine
    // int8 codes (4x smaller at rest), float queries ranked by exact
    // cosine against the RECONSTRUCTION. Fit/encode/decode all
    // replay in the oracle — integer codes, double arithmetic,
    // float storage. ----
    "q160_sq8_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (mn, mx) = Similarity.sqFit(emb, dim = 64)
      val codes = Similarity.sqEncode(emb, mn, mx)
      Similarity.sqTopK(codes, emb.filter(col("vec_id") < 20), k = 5, mn, mx)
        .select(col("query_id"), col("corpus_id"), col("rank"),
          round(col("cosine") + 1e-9, 6).as("cosine"))
        .orderBy("query_id", "rank")
    }),

    // ---- k-NN graph UPSERT (the HNSW insert primitive — the q151
    // lifecycle verb for the graph artifact): the q149 panel joins
    // the stored graph by beam-searching its neighbors and offering
    // itself to each of them; affected nodes re-rank to k, untouched
    // rows pass through, no rebuild anywhere. ----
    "q157_graph_upsert" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 20)
        .select((col("vec_id") + 100000L).as("vec_id"),
          transform(col("embedding"),
            x => (x.cast("double") * lit(0.9) + lit(0.01)).cast("float"))
            .as("embedding"))
      Similarity.knnGraphUpsert(amortizedKnnGraph(s, dir), emb, qs,
          k = 5, beam = 8, rounds = 3, entries = 4)
        .orderBy("vec_id", "rank")
    }),

    // ---- graph-based semantic dedup: the q150 stored graph's SECOND
    // job — edges at cosine >= 0.4 close into components (the q92
    // min-id closure), non-representative members flagged dropped.
    // One artifact serves ANN queries AND dedup; dedup cost is the
    // graph's k-bounded edge volume, never a within-cell pair join. ----
    "q156_graph_semdedup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.graphSemDedup(amortizedKnnGraph(s, dir), emb, tau = 0.4)
        .orderBy("vec_id")
    }),

    // ---- IVF-PQ composed ANN (the FAISS IVFPQ probe shape): coarse
    // Lloyd cells prune the corpus to nProbe cells per query, ADC
    // runs only over PQ codes within those cells. The oracle replays
    // BOTH quantizer fits (the q40 coarse chain + the q103 subspace
    // chain, prefix-renamed) and the cell-restricted ADC. ----
    "q110_ivfpq_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = Similarity.lloydCentroids(emb, nCells = 8, iters = 10, dim = 64,
        md5Sample = true)
      val books = Similarity.pqFit(emb, m = 4, ksub = 16, iters = 5, dim = 64,
        md5Sample = true)
      val codes = Similarity.pqEncode(emb, books)
      Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 20), codes, k = 5,
          nProbe = 3, books = books, centroids = cents)
        .orderBy("query_id", "rank")
    }),
  )

  private val stoplistSql =
    TextFunctions.stopwords.values.flatten.toSeq.distinct.sorted
      .map(w => s"'$w'").mkString("[", ", ", "]")

  /** Shared q113/q139 CTE chain — the residual IVF-PQ replay (coarse
    * fit → residuals → residual PQ fit → per-(query, cell) LUTs →
    * cell-matched ADC) ending at the rank relation `rk`. q113 selects
    * the ADC top-5 directly; q139 widens to the top-15 and re-ranks
    * by exact cosine (the refine stage). */
  private lazy val ivfPqResidualRkSql: String =
    s"""WITH ${ivfCoreCtes(nCells = 8, iters = 10, nProbe = 3, dim = 64, queryBound = 20)},
       rr AS MATERIALIZED (
         SELECT e.vec_id, ca.cell,
                list_transform(generate_series(1, 64),
                  d -> CAST(e.embedding[d] AS DOUBLE) - CAST(f.c[d] AS DOUBLE)) AS r
         FROM embeddings e JOIN ca ON ca.corpus_id = e.vec_id
         JOIN cf f ON f.cell = ca.cell),
       ${pqCoreCtes("pq_", "rr", "r")},
       qr AS MATERIALIZED (
         SELECT pr.query_id, pr.cell,
                list_transform(generate_series(1, 64),
                  d -> CAST(e.embedding[d] AS DOUBLE) - CAST(f.c[d] AS DOUBLE)) AS r
         FROM pr JOIN embeddings e ON e.vec_id = pr.query_id
         JOIN cf f ON f.cell = pr.cell),
       lut AS MATERIALIZED (
         SELECT q.query_id, q.cell, c.sub, c.code,
                ((${pqSelfSql("c")}) - 2.0*(${pqDotSql("q", "c", "r")})
                  + (${pqQSelfSql("q", "c", "r")})) AS d
         FROM qr q CROSS JOIN pq_fl c),
       adc AS (
         SELECT l.query_id, cc.corpus_id,
                round(sum(l.d) + 1e-9, 6) + 0.0 AS dist
         FROM pq_codes co JOIN ca cc ON cc.corpus_id = co.vec_id
         JOIN lut l ON l.cell = cc.cell AND l.sub = co.sub AND l.code = co.code
         WHERE l.query_id <> co.vec_id
         GROUP BY 1, 2),
       rk AS (
         SELECT query_id, corpus_id, dist,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY dist ASC, corpus_id ASC) AS rank
         FROM adc)"""

  /** The Gopher §A1.1 fixed 8-word stop set (distinct-count rule). */
  private val gopherStopSql =
    graft.operators.TextDedup.gopherStopWords
      .map(w => s"'$w'").mkString("[", ", ", "]")

  /** Gopher §A1.1 per-document shape metrics over `srcSql` (doc_id,
    * text) — mirrors TextDedup.gopherRules term by term (shared by
    * the q115 report and the q116 in-chain prefilter). */
  private def gopherMetricsSql(srcSql: String): String =
    s"""SELECT doc_id,
          len(toks) AS n,
          CASE WHEN len(toks) > 0
               THEN CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks)
               ELSE 0.0 END AS mean_len,
          CASE WHEN len(toks) > 0
               THEN ((length(text) - length(replace(text, '#', ''))) +
                     (length(text) - length(replace(text, '...', ''))) / 3)
                    * 1.0 / len(toks)
               ELSE 1.0 END AS sym_ratio,
          CASE WHEN len(toks) > 0
               THEN CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) AS DOUBLE) / len(toks)
               ELSE 0.0 END AS alpha_frac,
          len(list_distinct(list_filter(toks,
            t -> list_contains($gopherStopSql, t)))) AS stop_cnt
        FROM (SELECT doc_id, text,
                     list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                       x -> x <> '') AS toks
              FROM ($srcSql))"""

  /** The q115/q116 rule thresholds as a WHERE-clause fragment over
    * [[gopherMetricsSql]] columns (minWords = 20 on the fixture). */
  private val gopherPassSql =
    """n >= 20 AND n <= 100000 AND mean_len >= 3.0 AND mean_len <= 10.0
       AND sym_ratio <= 0.1 AND alpha_frac >= 0.8 AND stop_cnt >= 1"""

  // ---- q39 oracle generator: the hyperplane families are
  // deterministic driver-side splitmix64 Rademacher streams
  // (Similarity.hyperplaneSketch), so the oracle bakes each ±1 sign
  // pattern into the SQL as a left-associated add/subtract chain over
  // the embedding elements — the exact accumulation order of the
  // VecDot codegen loop, hence bit-identical dots, buckets, cosines
  // and ranks (the q45 programmatic-oracle precedent). ----
  private def splitmix64(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** true = +1 hyperplane component (mirrors hyperplaneSketch). */
  private def hyperSigns(bit: Int, seedOffset: Int, dim: Int): IndexedSeq[Boolean] =
    (0 until dim).map(d =>
      (splitmix64((bit.toLong + seedOffset) * 1000003L + d) & 1L) == 1L)

  /** Σ ±e[d] in index order, left-associated. */
  private def signedDotSql(alias: String, signs: IndexedSeq[Boolean]): String =
    signs.zipWithIndex.map { case (s, d) =>
      val t = s"CAST($alias.embedding[${d + 1}] AS DOUBLE)"
      if (d == 0) { if (s) t else s"-$t" }
      else { if (s) s"+ $t" else s"- $t" }
    }.mkString(" ")

  /** Σ a[d]*b[d] in index order (the VecDot loop). */
  private def pairDotSql(a: String, b: String, dim: Int): String =
    (0 until dim).map(d =>
      s"CAST($a.embedding[${d + 1}] AS DOUBLE)*CAST($b.embedding[${d + 1}] AS DOUBLE)")
      .mkString(" + ")

  /** One band's bucket string: 'b#' || sum of sign-bit powers. */
  private def bandBucketSql(alias: String, band: Int, bitsPerBand: Int, dim: Int): String = {
    val bits = (0 until bitsPerBand).map { i =>
      val dot = signedDotSql(alias, hyperSigns(i, band * 7919, dim))
      s"(CASE WHEN ($dot) >= 0 THEN ${1L << (i % 63)} ELSE 0 END)"
    }
    s"'$band#' || CAST((${bits.mkString(" + ")}) AS VARCHAR)"
  }

  // ---- q40 oracle generators: the Lloyd fit and the IVF probe are
  // plain index-order arithmetic over embedding elements and centroid
  // lists, mirrored term by term from the Scala expressions. ----

  /** Σ (e[d] − c[d])² in index order (fit distance; c is a DOUBLE list). */
  private def sqDistSql(e: String, c: String, dim: Int): String =
    (1 to dim).map(d =>
      s"(CAST($e.embedding[$d] AS DOUBLE) - $c[$d])*(CAST($e.embedding[$d] AS DOUBLE) - $c[$d])")
      .mkString(" + ")

  /** Σ e[d]·c[d] in index order (probe; c is a REAL list). */
  private def dotVecListSql(e: String, c: String, dim: Int): String =
    (1 to dim).map(d =>
      s"CAST($e.embedding[$d] AS DOUBLE)*CAST($c[$d] AS DOUBLE)").mkString(" + ")

  /** Σ c[d]² in index order over a REAL centroid list. */
  private def selfListSql(c: String, dim: Int): String =
    (1 to dim).map(d =>
      s"CAST($c[$d] AS DOUBLE)*CAST($c[$d] AS DOUBLE)").mkString(" + ")

  /** The coarse-Lloyd IVF CTE chain without the leading `WITH`:
    * d-grid, seeded init, `iters` Lloyd rounds, float-cast centroids
    * (`cf`), per-query probed cells (`pr`, top `nProbe` by cosine),
    * full-corpus cell assignment (`ca`). Shared by q40 and q110. */
  /** The fit-sample CTE: the `cap` vec_ids whose seeded md5 sorts
    * lowest (id tie-breaks), numbered 0.. in hash order — replays
    * Similarity.lloydSample's md5Sample rule exactly (seed 17). Always
    * sampled from `embeddings` (the q113 residual chain samples the
    * same ID SET; its residual vectors join back by vec_id). */
  private def fitSampCte(p: String, cap: Int): String =
    s"""${p}fitsamp AS MATERIALIZED (
         SELECT vec_id, srn FROM (
           SELECT vec_id, row_number() OVER (
                    ORDER BY md5('17#' || CAST(vec_id AS VARCHAR)) ASC,
                             vec_id ASC) - 1 AS srn
           FROM embeddings) WHERE srn < $cap)"""

  private def ivfCoreCtes(nCells: Int, iters: Int, nProbe: Int, dim: Int,
      queryBound: Int): String = {
    val itersSql = (0 until iters).map(t => lloydIterSql(t, dim)).mkString(",\n       ")
    val probeCos = s"((${dotVecListSql("q", "f.c", dim)}) / (sqrt(${pairDotSql("q", "q", dim)}) * sqrt(${selfListSql("f.c", dim)})))"
    val assignD = s"((${selfListSql("f.c", dim)}) - 2.0*(${dotVecListSql("e", "f.c", dim)}))"
    s"""dgrid AS (SELECT unnest(generate_series(CAST(1 AS BIGINT), CAST($dim AS BIGINT))) AS d),
       ${fitSampCte("", 1000)},
       cent0 AS MATERIALIZED (
         SELECT CAST(fs.srn AS INT) AS cell, g.d AS pos,
                CAST(e.embedding[g.d] AS DOUBLE) AS val
         FROM embeddings e JOIN fitsamp fs ON fs.vec_id = e.vec_id
         CROSS JOIN dgrid g WHERE fs.srn < $nCells),
       $itersSql,
       cf AS MATERIALIZED (
         SELECT cell, list(CAST(val AS REAL) ORDER BY pos) AS c FROM cent$iters GROUP BY 1),
       pr AS MATERIALIZED (
         SELECT vec_id AS query_id, cell FROM (
           SELECT q.vec_id, f.cell,
                  row_number() OVER (PARTITION BY q.vec_id
                    ORDER BY $probeCos DESC, f.cell ASC) AS rn
           FROM embeddings q CROSS JOIN cf f WHERE q.vec_id < $queryBound) WHERE rn <= $nProbe),
       ca AS MATERIALIZED (
         SELECT vec_id AS corpus_id, cell FROM (
           SELECT e.vec_id, f.cell,
                  row_number() OVER (PARTITION BY e.vec_id
                    ORDER BY $assignD ASC, f.cell ASC) AS rn
           FROM embeddings e CROSS JOIN cf f) WHERE rn = 1)"""
  }

  /** Shared q149/q150 oracle — the q148 graph chain verbatim, then
    * the hash-ranked entry points and all beam rounds (expand along
    * nn2 edges ∪ keep the frontier, exact cosine, rounded-rank ≤
    * beam), final top-k from the last frontier. One home so the
    * inline (q149) and at-rest (q150) gates cannot drift — the graph
    * build is deterministic, so the stored-graph round trip must
    * land on the same hash. */
  private lazy val graphSearchOracleSql: String =
    s"""WITH ${graphSearchCtes(k = 5, dim = 64, beam = 8, rounds = 3,
        entries = 4)}
       SELECT query_id, corpus_id, rank, sim + 0.0 AS sim
       FROM gsr ORDER BY query_id, rank"""

  /** The q149/q150/q157 shared graph-search chain WITHOUT the
    * leading WITH: the q148 graph (nn2), the planted query panel,
    * hash-ranked entries, all beam rounds, ending at `gsr`
    * (query_id, corpus_id, sim, rank ≤ k). */
  private def graphSearchCtes(k: Int, dim: Int, beam: Int, rounds: Int,
      entries: Int): String = {
    val roundsSql = (0 until rounds).map { r =>
      s"""ex$r AS MATERIALIZED (
         SELECT DISTINCT query_id, c FROM (
           SELECT f.query_id, g.c AS c FROM f$r f JOIN nn2 g ON g.a = f.c
           UNION ALL SELECT query_id, c FROM f$r)),
       fsc$r AS MATERIALIZED (
         SELECT e.query_id, e.c,
                (${pairDotSql("q", "ec", dim)}) / (qn.nrm * nc.nrm) AS sim
         FROM ex$r e
         JOIN qrs q ON q.query_id = e.query_id
         JOIN embeddings ec ON ec.vec_id = e.c
         JOIN qn ON qn.query_id = e.query_id
         JOIN nndnrm nc ON nc.vec_id = e.c),
       f${r + 1} AS MATERIALIZED (
         SELECT query_id, c, sim, rank FROM (
           SELECT query_id, c, round(sim + 1e-9, 6) AS sim,
                  CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY round(sim + 1e-9, 6) DESC, c ASC) AS INT) AS rank
           FROM fsc$r) WHERE rank <= $beam)"""
    }.mkString(",\n       ")
    s"""${nndChainCtes(k, dim)},
       qrs AS MATERIALIZED (
         SELECT vec_id + 100000 AS query_id,
                list_transform(embedding,
                  x -> CAST(CAST(x AS DOUBLE)*0.9 + 0.01 AS REAL)) AS embedding
         FROM embeddings WHERE vec_id < 20),
       qn AS MATERIALIZED (
         SELECT q.query_id, sqrt(${pairDotSql("q", "q", dim)}) AS nrm FROM qrs q),
       ent AS (SELECT vec_id AS c FROM (
         SELECT vec_id, row_number() OVER (
                  ORDER BY ('0x' || substr(md5('gse47#' || CAST(vec_id AS VARCHAR)),
                    1, 8))::BIGINT ASC, vec_id ASC) AS rn
         FROM embeddings) WHERE rn <= $entries),
       isc AS MATERIALIZED (
         SELECT q.query_id, e.c,
                (${pairDotSql("q", "ec", dim)}) / (qn.nrm * nc.nrm) AS sim
         FROM qrs q CROSS JOIN ent e
         JOIN embeddings ec ON ec.vec_id = e.c
         JOIN qn ON qn.query_id = q.query_id
         JOIN nndnrm nc ON nc.vec_id = e.c),
       f0 AS MATERIALIZED (
         SELECT query_id, c, sim, rank FROM (
           SELECT query_id, c, round(sim + 1e-9, 6) AS sim,
                  CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY round(sim + 1e-9, 6) DESC, c ASC) AS INT) AS rank
           FROM isc) WHERE rank <= $beam),
       $roundsSql,
       gsr AS (
         SELECT query_id, corpus_id, sim, rank FROM (
           SELECT query_id, c AS corpus_id, sim,
                  CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY round(sim + 1e-9, 6) DESC, c ASC) AS INT) AS rank
           FROM f$rounds) WHERE rank <= $k)"""
  }

  /** The full q148 NN-Descent chain WITHOUT the leading `WITH` —
    * norms, the k-independent-pairings init, nn0, and both local-join
    * rounds, ending at `nn2` (plus `nndnrm` for reuse). Shared by the
    * q148 gate and the q149 search replay. */
  private def nndChainCtes(k: Int, dim: Int): String =
    s"""nndnrm AS MATERIALIZED (
         SELECT e.vec_id, sqrt(${pairDotSql("e", "e", dim)}) AS nrm FROM embeddings e),
       bk AS MATERIALIZED (
         SELECT s, vec_id,
                ('0x' || substr(md5('nnd31#' || CAST(s AS VARCHAR) || '#'
                    || CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT
                  % (SELECT greatest(1, (count(*) + 1) // 2) FROM embeddings) AS b
         FROM embeddings, (SELECT unnest(generate_series(1, $k)) AS s)),
       ie AS MATERIALIZED (
         SELECT DISTINCT p.vec_id AS a, q.vec_id AS c,
                (${pairDotSql("ex", "ey", dim)}) / (nx.nrm * ny.nrm) AS sim
         FROM bk p JOIN bk q ON p.s = q.s AND p.b = q.b AND p.vec_id <> q.vec_id
         JOIN embeddings ex ON ex.vec_id = p.vec_id
         JOIN embeddings ey ON ey.vec_id = q.vec_id
         JOIN nndnrm nx ON nx.vec_id = p.vec_id
         JOIN nndnrm ny ON ny.vec_id = q.vec_id),
       nn0 AS MATERIALIZED (
         SELECT a, c, sim, rank FROM (
           SELECT a, c, round(sim + 1e-9, 6) AS sim,
                  CAST(row_number() OVER (PARTITION BY a
                    ORDER BY round(sim + 1e-9, 6) DESC, c ASC) AS INT) AS rank
           FROM ie) WHERE rank <= $k),
       ${nndIterSql(0, k, dim)},
       ${nndIterSql(1, k, dim)}"""

  /** One NN-Descent round (q148): id-capped reverse neighbors →
    * adjacency incl. the pivot → in-adjacency candidate pairs →
    * exact cosines → undirected union with the previous state (max
    * per (a, c) — the dedup before top-k) → rounded-cosine top-k.
    * Mirrors [[graft.operators.Similarity.knnGraphDescent]]'s
    * iteration body term by term. `in` overrides the input state CTE
    * (default `nn$t` — the build chain); `universe` overrides the
    * pivot universe (default the whole corpus — q168's refresh
    * round restricts it to survivors so removed nodes never
    * re-enter). Output CTE is always `nn${t+1}`. */
  private def nndIterSql(t: Int, k: Int, dim: Int,
      in: String = "", universe: String = "embeddings"): String = {
    val src = if (in.isEmpty) s"nn$t" else in
    s"""rv$t AS MATERIALIZED (
         SELECT a, c FROM (
           SELECT n.c AS a, n.a AS c,
                  row_number() OVER (PARTITION BY n.c ORDER BY n.a ASC) AS rn
           FROM $src n) WHERE rn <= $k),
       adj$t AS MATERIALIZED (
         SELECT DISTINCT a, c FROM (
           SELECT a, c FROM $src
           UNION ALL SELECT a, c FROM rv$t
           UNION ALL SELECT vec_id AS a, vec_id AS c FROM $universe)),
       cd$t AS MATERIALIZED (
         SELECT DISTINCT p.c AS x, q.c AS y
         FROM adj$t p JOIN adj$t q ON p.a = q.a AND p.c < q.c),
       sc$t AS MATERIALIZED (
         SELECT c.x, c.y,
                (${pairDotSql("ex", "ey", dim)}) / (nx.nrm * ny.nrm) AS sim
         FROM cd$t c
         JOIN embeddings ex ON ex.vec_id = c.x
         JOIN embeddings ey ON ey.vec_id = c.y
         JOIN nndnrm nx ON nx.vec_id = c.x
         JOIN nndnrm ny ON ny.vec_id = c.y),
       un$t AS MATERIALIZED (
         SELECT a, c, max(sim) AS sim FROM (
           SELECT x AS a, y AS c, sim FROM sc$t
           UNION ALL SELECT y AS a, x AS c, sim FROM sc$t
           UNION ALL SELECT a, c, sim FROM $src) GROUP BY a, c),
       nn${t + 1} AS MATERIALIZED (
         SELECT a, c, sim, rank FROM (
           SELECT a, c, round(sim + 1e-9, 6) AS sim,
                  CAST(row_number() OVER (PARTITION BY a
                    ORDER BY round(sim + 1e-9, 6) DESC, c ASC) AS INT) AS rank
           FROM un$t) WHERE rank <= $k)"""
  }

  /** One Lloyd round: centroid lists → argmin assignment →
    * per-(cell, position) means → carry (empty cells keep their
    * previous centroid). */
  private def lloydIterSql(t: Int, dim: Int): String = {
    val dist = sqDistSql("e", "c.c", dim)
    s"""cl$t AS MATERIALIZED (SELECT cell, list(val ORDER BY pos) AS c FROM cent$t GROUP BY 1),
       asg$t AS MATERIALIZED (
         SELECT vec_id, embedding, cell FROM (
           SELECT e.vec_id, e.embedding, c.cell,
                  row_number() OVER (PARTITION BY e.vec_id
                    ORDER BY ($dist) ASC, c.cell ASC) AS rn
           FROM embeddings e JOIN fitsamp fs ON fs.vec_id = e.vec_id
           CROSS JOIN cl$t c) WHERE rn = 1),
       mn$t AS MATERIALIZED (
         SELECT a.cell, g.d AS pos, avg(CAST(a.embedding[g.d] AS DOUBLE)) AS val
         FROM asg$t a CROSS JOIN dgrid g GROUP BY 1,2),
       cent${t + 1} AS MATERIALIZED (
         SELECT o.cell, o.pos, coalesce(m.val, o.val) AS val
         FROM cent$t o LEFT JOIN mn$t m ON m.cell = o.cell AND m.pos = o.pos)"""
  }

  private def langListSql(l: String) =
    TextFunctions.stopwords(l).map(w => s"'$w'").mkString("[", ", ", "]")

  // ---- q103/q104 oracle generators: the per-subspace PQ Lloyd fit
  // replayed with (sub, code)-keyed CTE rounds — the q40 machinery
  // with one extra key; every sum mirrors the Scala index order. ----
  private val pqM = 4
  private val pqKsub = 16
  private val pqIters = 5
  private val pqDsub = 16 // dim 64 / pqM

  /** Σ (e[sub·16+d] − c[d])² in index order (fit distance; c DOUBLE
    * list). `vecCol` selects the vector column (default the raw
    * embedding; q113 passes the residual list, whose elements are
    * already DOUBLE — the CAST is then a no-op). */
  private def pqSubDistSql(e: String, c: String, vecCol: String = "embedding"): String =
    (1 to pqDsub).map(d =>
      s"(CAST($e.$vecCol[$c.sub*$pqDsub+$d] AS DOUBLE) - $c.c[$d])" +
        s"*(CAST($e.$vecCol[$c.sub*$pqDsub+$d] AS DOUBLE) - $c.c[$d])")
      .mkString(" + ")

  /** Σ c[d]² in index order over a REAL centroid list. */
  private def pqSelfSql(c: String): String =
    (1 to pqDsub).map(d =>
      s"CAST($c.c[$d] AS DOUBLE)*CAST($c.c[$d] AS DOUBLE)").mkString(" + ")

  /** Σ e[sub·16+d]·c[d] in index order (REAL centroid list). */
  private def pqDotSql(e: String, c: String, vecCol: String = "embedding"): String =
    (1 to pqDsub).map(d =>
      s"CAST($e.$vecCol[$c.sub*$pqDsub+$d] AS DOUBLE)*CAST($c.c[$d] AS DOUBLE)")
      .mkString(" + ")

  /** Σ e[sub·16+d]² in index order (query self-dot per subspace). */
  private def pqQSelfSql(e: String, c: String, vecCol: String = "embedding"): String =
    (1 to pqDsub).map(d =>
      s"CAST($e.$vecCol[$c.sub*$pqDsub+$d] AS DOUBLE)" +
        s"*CAST($e.$vecCol[$c.sub*$pqDsub+$d] AS DOUBLE)").mkString(" + ")

  /** One per-subspace Lloyd round (argmin assignment / means / carry
    * keyed by (sub, code)). `p` prefixes every CTE name so the chain
    * can coexist with the coarse-quantizer chain (q110 uses both —
    * their default names collide on cent/cl/asg/mn). */
  private def pqIterSql(t: Int, p: String = "", rel: String = "embeddings",
      vecCol: String = "embedding"): String =
    s"""${p}cl$t AS MATERIALIZED (
         SELECT sub, code, list(val ORDER BY pos) AS c FROM ${p}cent$t GROUP BY 1, 2),
       ${p}asg$t AS MATERIALIZED (
         SELECT vec_id, sub, code FROM (
           SELECT e.vec_id, c.sub, c.code,
                  row_number() OVER (PARTITION BY e.vec_id, c.sub
                    ORDER BY (${pqSubDistSql("e", "c", vecCol)}) ASC, c.code ASC) AS rn
           FROM $rel e JOIN ${p}fitsamp fs ON fs.vec_id = e.vec_id
           CROSS JOIN ${p}cl$t c) WHERE rn = 1),
       ${p}mn$t AS MATERIALIZED (
         SELECT a.sub, a.code, g.d AS pos,
                avg(CAST(e.$vecCol[a.sub*$pqDsub + g.d] AS DOUBLE)) AS val
         FROM ${p}asg$t a JOIN $rel e ON e.vec_id = a.vec_id
         CROSS JOIN pqd g GROUP BY 1, 2, 3),
       ${p}cent${t + 1} AS MATERIALIZED (
         SELECT o.sub, o.code, o.pos, coalesce(m.val, o.val) AS val
         FROM ${p}cent$t o LEFT JOIN ${p}mn$t m
           ON m.sub = o.sub AND m.code = o.code AND m.pos = o.pos)"""

  /** Shared q103/q104 prefix: grids, the hash-uniform fit sample,
    * init from its ksub first vectors' subspace slices, the Lloyd
    * rounds, float-cast final books (`fl`), and the full-corpus
    * assignment (`codes`). */
  /** The PQ fit/encode CTE chain WITHOUT the leading `WITH`, so
    * callers can splice it next to other chains. `p` prefixes every
    * generated CTE name (q110 combines this with the coarse-Lloyd
    * chain, whose default names collide). */
  private def pqCoreCtes(p: String = "", rel: String = "embeddings",
      vecCol: String = "embedding"): String = {
    val iters = (0 until pqIters).map(t => pqIterSql(t, p, rel, vecCol))
      .mkString(",\n       ")
    s"""pqs AS (SELECT unnest(generate_series(CAST(0 AS BIGINT), CAST(${pqM - 1} AS BIGINT))) AS s),
       pqd AS (SELECT unnest(generate_series(CAST(1 AS BIGINT), CAST($pqDsub AS BIGINT))) AS d),
       ${fitSampCte(p, 1000)},
       ${p}cent0 AS MATERIALIZED (
         SELECT sg.s AS sub, CAST(fs.srn AS INT) AS code, g.d AS pos,
                CAST(e.$vecCol[sg.s*$pqDsub + g.d] AS DOUBLE) AS val
         FROM $rel e JOIN ${p}fitsamp fs ON fs.vec_id = e.vec_id
         CROSS JOIN pqs sg CROSS JOIN pqd g
         WHERE fs.srn < $pqKsub),
       $iters,
       ${p}fl AS MATERIALIZED (
         SELECT sub, code, list(CAST(val AS REAL) ORDER BY pos) AS c
         FROM ${p}cent$pqIters GROUP BY 1, 2),
       ${p}codes AS MATERIALIZED (
         SELECT vec_id, sub, code FROM (
           SELECT e.vec_id, c.sub, c.code,
                  row_number() OVER (PARTITION BY e.vec_id, c.sub
                    ORDER BY ((${pqSelfSql("c")}) - 2.0*(${pqDotSql("e", "c", vecCol)})) ASC,
                             c.code ASC) AS rn
           FROM $rel e CROSS JOIN ${p}fl c) WHERE rn = 1)"""
  }

  private def pqCoreSql: String = "WITH " + pqCoreCtes()

  private val oracleSql0: Map[String, String] = Map(
    // PII scrub replay: the identical planted fixture, RE2-side
    // counts via regexp_extract_all and a global regexp_replace
    // (DuckDB needs the explicit 'g' flag to match Spark's
    // replace-all semantics); patterns spliced from TextFunctions so
    // both engines compile the same source text.
    "q76_pii_scrub" -> {
      val em = TextFunctions.emailPattern
      val ph = TextFunctions.phonePattern
      s"""WITH aug AS (
           SELECT doc_id,
                  text || ' contact ' || source || '@example.org call +' ||
                  CAST(doc_id % 90 + 10 AS VARCHAR) || ' (' ||
                  CAST(doc_id % 900 + 100 AS VARCHAR) || ') 555-' ||
                  CAST(doc_id % 9000 + 1000 AS VARCHAR) AS text2
           FROM documents)
         SELECT doc_id,
                CAST(len(regexp_extract_all(text2, '$em')) AS INTEGER) AS n_email,
                CAST(len(regexp_extract_all(text2, '$ph')) AS INTEGER) AS n_phone,
                md5(regexp_replace(regexp_replace(text2, '$em', '<EMAIL>', 'g'),
                                   '$ph', '<PHONE>', 'g')) AS scrub_md5
         FROM aug ORDER BY 1"""
    },

    // repetition replay: explode 2-grams (whole-token-stream fallback
    // for sub-width docs, the shingles() contract), count per
    // (doc, gram), aggregate mass fractions.
    "q77_repetition" ->
      (s"""WITH tk AS ($toksSql),
         g0 AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 2
                  THEN list_transform(generate_series(1, len(toks) - 1),
                         i -> array_to_string(toks[i:i+1], ' '))
                  ELSE [array_to_string(toks, ' ')] END) AS g
                FROM tk),
         g1 AS (SELECT doc_id, g FROM g0 WHERE g <> ''),
         c AS (SELECT doc_id, g, count(*) AS c FROM g1 GROUP BY 1, 2)
         SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
                round(max(c)/CAST(sum(c) AS DOUBLE) + 1e-9, 6) + 0.0 AS top_gram_frac,
                round(coalesce(sum(CASE WHEN c > 1 THEN c END), 0)
                      / CAST(sum(c) AS DOUBLE) + 1e-9, 6) + 0.0 AS dup_gram_frac
         FROM c GROUP BY 1 ORDER BY 1"""),

    // decontamination replay: distinct md5'd 3-grams per doc, held-out
    // set = doc_id % 17, keyed overlap counts.
    "q78_decontaminate" ->
      (s"""WITH tk AS ($toksSql),
         g0 AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 3
                  THEN list_transform(generate_series(1, len(toks) - 2),
                         i -> array_to_string(toks[i:i+2], ' '))
                  ELSE [array_to_string(toks, ' ')] END) AS g
                FROM tk),
         h AS (SELECT DISTINCT doc_id, md5(g) AS h FROM g0 WHERE g <> ''),
         bench AS (SELECT DISTINCT h FROM h WHERE doc_id % 17 = 0),
         tr AS (SELECT doc_id, h FROM h WHERE doc_id % 17 <> 0),
         pd AS (SELECT doc_id, count(*) AS n_grams FROM tr GROUP BY 1),
         ov AS (SELECT tr.doc_id, count(*) AS n_overlap
                FROM tr JOIN bench USING (h) GROUP BY 1)
         SELECT ov.doc_id, pd.n_grams, ov.n_overlap,
                round(ov.n_overlap/CAST(pd.n_grams AS DOUBLE) + 1e-9, 6) + 0.0 AS overlap_frac
         FROM ov JOIN pd USING (doc_id) ORDER BY 1"""),

    // multi-band hyperplane-LSH ANN, replayed exactly: baked ±1
    // hyperplane chains → identical sketch bits → identical buckets,
    // candidates, cosines (bit-for-bit) and (score desc, id asc) ranks
    "q39_lsh_topk" -> {
      val dim = 64; val bpb = 6; val nb = 4
      val buckets = (0 until nb).map(b => bandBucketSql("e", b, bpb, dim)).mkString(", ")
      s"""WITH qs AS (SELECT e.vec_id AS query_id, unnest([$buckets]) AS bucket
            FROM embeddings e WHERE e.vec_id < 50),
          cs AS (SELECT e.vec_id AS corpus_id, unnest([$buckets]) AS bucket
            FROM embeddings e),
          cand AS (SELECT DISTINCT q.query_id, c.corpus_id
                   FROM qs q JOIN cs c USING (bucket)
                   WHERE q.query_id <> c.corpus_id),
          nrm AS (SELECT e.vec_id, sqrt(${pairDotSql("e", "e", dim)}) AS nrm
                  FROM embeddings e),
          scored AS (SELECT cand.query_id, cand.corpus_id,
                            (${pairDotSql("qa", "ca", dim)}) / (nq.nrm * nc.nrm) AS cosine
                     FROM cand
                     JOIN embeddings qa ON qa.vec_id = cand.query_id
                     JOIN embeddings ca ON ca.vec_id = cand.corpus_id
                     JOIN nrm nq ON nq.vec_id = cand.query_id
                     JOIN nrm nc ON nc.vec_id = cand.corpus_id),
          ranked AS (SELECT query_id, corpus_id, cosine,
                            CAST(row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, corpus_id ASC) AS INTEGER) AS rank
                     FROM scored)
          SELECT query_id, corpus_id, rank, round(cosine + 1e-9, 6) + 0.0 AS cosine
          FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""
    },

    // IVF ANN, fully replayed: the md5-ordered fit sample, 10 Lloyd
    // rounds from its 8 first vectors (index-order arithmetic,
    // carry for empty cells),
    // float-cast final centroids, cosine-ranked 3-cell probe, argmin
    // cell assignment, exact in-cell cosine top-5 (the q39 ranking
    // machinery — bit-exact corpus cosines).
    "q40_ivf_topk" -> {
      val dim = 64
      s"""WITH ${ivfCoreCtes(nCells = 8, iters = 10, nProbe = 3, dim = dim, queryBound = 20)},
       cand AS (SELECT pr.query_id, ca.corpus_id
                FROM pr JOIN ca ON ca.cell = pr.cell
                WHERE pr.query_id <> ca.corpus_id),
       nrm AS MATERIALIZED (
         SELECT e.vec_id, sqrt(${pairDotSql("e", "e", dim)}) AS nrm FROM embeddings e),
       scored AS (SELECT cand.query_id, cand.corpus_id,
                         (${pairDotSql("qa", "ca2", dim)}) / (nq.nrm * nc.nrm) AS cosine
                  FROM cand
                  JOIN embeddings qa ON qa.vec_id = cand.query_id
                  JOIN embeddings ca2 ON ca2.vec_id = cand.corpus_id
                  JOIN nrm nq ON nq.vec_id = cand.query_id
                  JOIN nrm nc ON nc.vec_id = cand.corpus_id),
       ranked AS (SELECT query_id, corpus_id, cosine,
                         CAST(row_number() OVER (PARTITION BY query_id
                           ORDER BY cosine DESC, corpus_id ASC) AS INTEGER) AS rank
                  FROM scored)
       SELECT query_id, corpus_id, rank, round(cosine + 1e-9, 6) + 0.0 AS cosine
       FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""
    },

    // SemDeDup: the q40 fit/assignment CTEs (queryBound 0 — no probe
    // relation needed), then within-cell pairs with the same
    // index-order cosine algebra and the keep-lowest-id rule
    "q117_semdedup" -> {
      val dim = 64
      s"""WITH ${ivfCoreCtes(nCells = 8, iters = 10, nProbe = 1, dim = dim, queryBound = 0)},
       mem AS MATERIALIZED (
         SELECT ca.corpus_id AS vec_id, ca.cell, e.embedding
         FROM ca JOIN embeddings e ON e.vec_id = ca.corpus_id),
       nrm AS MATERIALIZED (
         SELECT e.vec_id, sqrt(${pairDotSql("e", "e", dim)}) AS nrm FROM embeddings e),
       dup AS (
         SELECT DISTINCT b.vec_id
         FROM mem a JOIN mem b ON a.cell = b.cell AND a.vec_id < b.vec_id
         JOIN nrm na ON na.vec_id = a.vec_id
         JOIN nrm nb ON nb.vec_id = b.vec_id
         WHERE round((${pairDotSql("a", "b", dim)}) / (na.nrm * nb.nrm) + 1e-9, 6) >= 0.25)
       SELECT m.vec_id, m.cell, (d.vec_id IS NULL) AS kept
       FROM mem m LEFT JOIN dup d ON d.vec_id = m.vec_id
       ORDER BY m.vec_id"""
    },

    // semantic decontamination: the q117 Lloyd fit/assignment CTEs,
    // a planted benchmark panel (the same double-affine perturbation
    // the Spark wiring derives), the nProbe=2 bench-side probe
    // ranking (the q110 pr convention over the derived panel), and
    // the τ-filtered pairwise verify with the keep verdict
    "q145_semantic_decon" -> {
      val dim = 64
      val probeCos = s"((${dotVecListSql("q", "f.c", dim)}) / " +
        s"(sqrt(${pairDotSql("q", "q", dim)}) * sqrt(${selfListSql("f.c", dim)})))"
      s"""WITH ${ivfCoreCtes(nCells = 8, iters = 10, nProbe = 1, dim = dim, queryBound = 0)},
       bench AS MATERIALIZED (
         SELECT vec_id + 100000 AS query_id,
                list_transform(embedding,
                  x -> CAST(CAST(x AS DOUBLE)*0.9 + 0.01 AS REAL)) AS embedding
         FROM embeddings WHERE vec_id < 20),
       bpr AS MATERIALIZED (
         SELECT query_id, cell FROM (
           SELECT q.query_id, f.cell,
                  row_number() OVER (PARTITION BY q.query_id
                    ORDER BY $probeCos DESC, f.cell ASC) AS rn
           FROM bench q CROSS JOIN cf f) WHERE rn <= 2),
       mem AS MATERIALIZED (
         SELECT ca.corpus_id AS vec_id, ca.cell, e.embedding
         FROM ca JOIN embeddings e ON e.vec_id = ca.corpus_id),
       hit AS (
         SELECT DISTINCT m.vec_id
         FROM mem m JOIN bpr p ON p.cell = m.cell
         JOIN bench b ON b.query_id = p.query_id
         WHERE round((${pairDotSql("m", "b", dim)}) /
           (sqrt(${pairDotSql("m", "m", dim)}) * sqrt(${pairDotSql("b", "b", dim)}))
           + 1e-9, 6) >= 0.95)
       SELECT m.vec_id, m.cell, (h.vec_id IS NULL) AS kept
       FROM mem m LEFT JOIN hit h ON h.vec_id = m.vec_id
       ORDER BY m.vec_id"""
    },

    // DSIR: unigram+bigram features from the shared tokenizer,
    // md5-prefix buckets, add-1 smoothed log-ratio per bucket, per-doc
    // weight sum, Gumbel keys from the same seeded md5 uniforms, and
    // the top-100 boundary replayed as a window rank (the oracle can
    // afford the global sort the Spark side's bounded TopKPairs avoids)
    "q118_dsir_select" ->
      s"""WITH tk AS ($toksSql),
       feats AS (
         SELECT doc_id, lang = 'en' AS t,
                unnest(list_concat(toks,
                  list_transform(range(1, len(toks)),
                    i -> toks[i] || '_' || toks[i+1]))) AS f
         FROM tk),
       bk AS (SELECT doc_id, t, substr(md5(f), 1, 2) AS b FROM feats),
       pb AS (SELECT b, sum(CASE WHEN t THEN 1 ELSE 0 END) AS ct,
                     count(*) AS cr FROM bk GROUP BY 1),
       tot AS (SELECT sum(ct) AS tt, sum(cr) AS tr FROM pb),
       lam AS (SELECT b, ln((ct + 1.0) / (tt + 256.0)) -
                        ln((cr + 1.0) / (tr + 256.0)) AS lam FROM pb, tot),
       bc AS (SELECT doc_id, b, count(*) AS c FROM bk GROUP BY 1, 2),
       w AS (SELECT bc.doc_id, sum(bc.c) AS n_feats,
                    sum(bc.c * lam.lam) AS weight
             FROM bc JOIN lam USING (b) GROUP BY 1),
       sc AS (SELECT d.doc_id, coalesce(w.n_feats, 0) AS n_feats,
                     coalesce(w.weight, 0.0) AS weight
              FROM documents d LEFT JOIN w USING (doc_id)),
       ky AS (SELECT doc_id, n_feats, weight,
                round(weight - ln(-ln(
                  (('0x' || substr(md5('29#' || CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT
                    + 0.5) / 16777216.0)) + 1e-9, 6) AS gumbel_key
              FROM sc),
       rk AS (SELECT doc_id, row_number() OVER (
                ORDER BY gumbel_key DESC, doc_id ASC) AS rn FROM ky)
       SELECT k.doc_id, CAST(k.n_feats AS BIGINT) AS n_feats,
              round(k.weight + 1e-7, 4) + 0.0 AS weight,
              k.gumbel_key + 0.0 AS gumbel_key,
              (r.rn <= 100) AS selected
       FROM ky k JOIN rk r USING (doc_id) ORDER BY k.doc_id""",

    // trained quality classifier: the closed-form Naive Bayes fit
    // replayed relationally — class-conditional bucket counts,
    // add-1 log-ratio weights, prior log-odds bias, per-doc sigmoid
    "q119_quality_classifier" ->
      s"""WITH tk AS ($toksSql),
       feats AS (
         SELECT doc_id, y, substr(md5(f), 1, 3) AS b FROM (
           SELECT doc_id, lang = 'en' AS y,
                  unnest(list_concat(toks,
                    list_transform(range(1, len(toks)),
                      i -> toks[i] || '_' || toks[i+1]))) AS f
           FROM tk)),
       fc AS (SELECT doc_id, y, b, count(*) AS c FROM feats GROUP BY 1, 2, 3),
       cc AS (SELECT b, sum(CASE WHEN y THEN c ELSE 0 END) AS cp,
                     sum(CASE WHEN NOT y THEN c ELSE 0 END) AS cn
              FROM fc GROUP BY 1),
       tot AS (SELECT sum(cp) AS tp, sum(cn) AS tn FROM cc),
       w AS (SELECT b, ln((cp + 1.0) / (tp + 4096.0)) -
                       ln((cn + 1.0) / (tn + 4096.0)) AS w FROM cc, tot),
       pr AS (SELECT ln(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) + 1.0) -
                     ln(count(*) - sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                        + 1.0) AS bias
              FROM documents),
       sc AS (SELECT fc.doc_id, sum(fc.c) AS n_feats,
                     sum(CAST(fc.c AS DOUBLE) * w.w) AS s0
              FROM fc JOIN w USING (b) GROUP BY 1)
       SELECT d.doc_id,
              CAST(coalesce(sc.n_feats, 0) AS BIGINT) AS n_feats,
              round(1.0 / (1.0 + exp(-(coalesce(sc.s0, 0.0) + pr.bias)))
                + 1e-9, 6) + 0.0 AS score,
              (round(1.0 / (1.0 + exp(-(coalesce(sc.s0, 0.0) + pr.bias)))
                + 1e-9, 6) >= 0.5) AS predicted
       FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id, pr
       ORDER BY d.doc_id""",

    // held-out classifier replay: the q119 NB fit restricted to the
    // md5 train slice (LEFT JOIN + coalesce gives unseen-in-train
    // buckets the same smoothed-prior weight the total-space Spark
    // relation bakes in), applied to the complement, confusion matrix
    "q121_classifier_holdout" ->
      s"""WITH sp AS (
         SELECT doc_id, text, lang,
                substr(md5('holdout#' || CAST(doc_id AS VARCHAR)), 1, 1) < 'd' AS tr
         FROM documents),
       tk AS (SELECT doc_id, tr, lang = 'en' AS y,
                list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                  x -> x <> '') AS toks
              FROM sp),
       feats AS (SELECT doc_id, tr, y, substr(md5(f), 1, 3) AS b FROM (
           SELECT doc_id, tr, y, unnest(list_concat(toks,
                    list_transform(range(1, len(toks)),
                      i -> toks[i] || '_' || toks[i+1]))) AS f
           FROM tk)),
       cc AS (SELECT b, sum(CASE WHEN y THEN 1 ELSE 0 END) AS cp,
                     sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS cn
              FROM feats WHERE tr GROUP BY 1),
       tot AS (SELECT sum(cp) AS tp, sum(cn) AS tn FROM cc),
       pr AS (SELECT ln(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) + 1.0)
                   - ln(count(*) - sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                        + 1.0) AS bias
              FROM sp WHERE tr),
       fc AS (SELECT doc_id, b, count(*) AS c FROM feats
              WHERE NOT tr GROUP BY 1, 2),
       sc AS (SELECT fc.doc_id, sum(fc.c) AS n_feats,
                     sum(CAST(fc.c AS DOUBLE) *
                         (ln((coalesce(cc.cp, 0) + 1.0) / (tot.tp + 4096.0)) -
                          ln((coalesce(cc.cn, 0) + 1.0) / (tot.tn + 4096.0)))) AS s0
              FROM fc LEFT JOIN cc USING (b) CROSS JOIN tot GROUP BY 1),
       scored AS (
         SELECT d.doc_id, d.lang = 'en' AS actual,
                CAST(coalesce(sc.n_feats, 0) AS BIGINT) AS n_feats,
                round(1.0 / (1.0 + exp(-(coalesce(sc.s0, 0.0) + pr.bias)))
                  + 1e-9, 6) AS score
         FROM sp d LEFT JOIN sc ON sc.doc_id = d.doc_id, pr
         WHERE NOT d.tr)
       SELECT actual, (score >= 0.5) AS predicted, count(*) AS n,
              CAST(sum(n_feats) AS BIGINT) AS n_feats,
              round(avg(score) + 1e-7, 4) + 0.0 AS avg_score,
              min(doc_id) AS first_id
       FROM scored GROUP BY 1, 2 ORDER BY 1, 2""",

    // BPE replay: every training round as four chained CTEs — pair
    // counts over the previous symbol state, the 1-row argmax, the
    // island-parity keep set, and the merged/reindexed next state.
    // The same window algebra as the engine, so the merge table
    // matches round for round.
    "q126_bpe_merges" -> bpeOracleSql(nMerges = 12),

    // subword-count replay: the q126 training chain + the apply-only
    // t-chain over the full corpus vocabulary + per-source totals
    "q127_subword_counts" -> bpeSubwordOracleSql(nMerges = 12),

    // WordPiece replay: substring-frequency vocabulary on the %5
    // sample (integer-count argmax — no float comparisons anywhere),
    // then greedy longest-match per word as unrolled rounds: each
    // round LEFT-joins the active (word, off) frontier against the
    // piece/length relation on the substring equality, takes
    // greatest(max matched length, 1) — the 1 is the byte fallback —
    // emits the piece, and advances the offset. 12 rounds cover
    // words to length 12 (fixture max is 8).
    "q154_wordpiece_counts" -> wordPieceOracleSql(maxPieceLen = 4,
      vocabSize = 200, rounds = 12),

    // real-token-budget replay: the q127 machinery at PER-DOC grain
    // feeding the q88 budget window over the real subword counts
    "q131_real_token_budget" -> bpeTokenBudgetOracleSql(nMerges = 12,
      budget = 3000L),

    // fertility replay: per-doc dw × nsub totals, 4dp-rounded mean
    // subwords-per-word, quantile_cont threshold (the q112
    // convention), verdict for every doc with >= 1 word; OOV words
    // take the byte-fallback fertility length(word), mirroring the
    // engine (LEFT JOIN — on this fixture nsub is vocabulary-total,
    // so the fallback never fires, but the semantics must agree)
    "q153_fertility_filter" ->
      (s"""WITH ${bpeSubwordCtes(12)},
          d AS (SELECT doc_id,
                       CAST(sum(cnt * coalesce(n_sub, len(word))) AS BIGINT) AS toks,
                       CAST(sum(cnt) AS BIGINT) AS words
                FROM dw LEFT JOIN nsub USING (word) GROUP BY 1),
          sc AS (SELECT doc_id, words, toks,
                        round(toks * 1.0 / words + 1e-7, 4) + 0.0 AS fertility
                 FROM d),
          thr AS (SELECT quantile_cont(fertility, 0.9) AS thr FROM sc)
          SELECT doc_id, words, toks, fertility,
                 fertility <= thr.thr AS kept
          FROM sc CROSS JOIN thr ORDER BY doc_id"""),

    // real-token chunking replay: the q127 nsub relation joined onto
    // per-doc ordered word positions, a per-doc prefix sum placing
    // each word's piece span [st, e), chunk membership by span
    // intersection (integer floor division both sides)
    "q134_real_token_chunks" ->
      (s"""WITH ${bpeSubwordCtes(12)},
          dtok AS (
            SELECT doc_id, i - 1 AS wpos, toks[i] AS word
            FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i
                  FROM (SELECT doc_id, list_filter(
                          string_split_regex(lower(text), '[^a-z0-9]+'),
                          x -> x <> '') AS toks
                        FROM documents))),
          spans AS (
            SELECT d.doc_id, d.wpos, n.n_sub,
                   sum(n.n_sub) OVER (PARTITION BY d.doc_id ORDER BY d.wpos
                     ROWS UNBOUNDED PRECEDING) AS e
            FROM dtok d JOIN nsub n USING (word)),
          ch AS (
            SELECT doc_id, wpos, n_sub, e, e - n_sub AS st,
                   unnest(generate_series(CAST((e - n_sub) // 64 AS BIGINT),
                                          CAST((e - 1) // 64 AS BIGINT))) AS chunk
            FROM spans)
          SELECT doc_id, chunk,
                 CAST(sum(least(e, (chunk + 1) * 64) - greatest(st, chunk * 64)) AS BIGINT) AS n_pieces,
                 count(*) AS n_words,
                 CAST(min(wpos) AS BIGINT) AS first_wpos,
                 CAST(max(wpos) AS BIGINT) AS last_wpos
          FROM ch GROUP BY 1, 2 ORDER BY 1, 2"""),

    // real-token packing replay: the q91 block layout over per-doc
    // REAL subword totals (dw × nsub)
    "q135_real_token_packing" ->
      (s"""WITH ${bpeSubwordCtes(12)},
          d AS (SELECT doc_id, CAST(sum(cnt * n_sub) AS BIGINT) AS toks
                FROM dw JOIN nsub USING (word) GROUP BY 1),
          r AS (SELECT doc_id, toks,
                       sum(toks) OVER (ORDER BY md5('5#' || CAST(doc_id AS VARCHAR)) ASC,
                                       doc_id ASC ROWS UNBOUNDED PRECEDING) AS endt
                FROM d WHERE toks > 0)
          SELECT doc_id, CAST(endt - toks AS BIGINT) AS start_tok,
                 CAST(endt AS BIGINT) AS end_tok,
                 CAST((endt - toks) // 512 AS BIGINT) AS block_first,
                 CAST((endt - 1) // 512 AS BIGINT) AS block_last
          FROM r ORDER BY doc_id"""),

    // CCNet bucket replay: the planted-paragraph derivation, the %5
    // reference LM (LEFT join — unseen tokens take the add-one
    // floor), length-weighted doc scores rounded to 4dp, per-lang
    // quantile_cont terciles (≡ Spark percentile)
    "q136_ccnet_buckets" ->
      """WITH base AS (
           SELECT doc_id, lang,
                  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
           FROM documents),
         planted AS (
           SELECT doc_id, lang,
                  list_transform(generate_series(0, CAST(ceil(len(toks) / 12.0) AS BIGINT) - 1),
                    i -> array_to_string(toks[i*12+1 : i*12+12], ' ')) AS paras
           FROM base WHERE len(toks) > 0),
         ref AS (SELECT unnest(toks) AS tk FROM base WHERE doc_id % 5 = 0),
         freq AS (SELECT tk, count(*) AS tf FROM ref GROUP BY 1),
         tot AS (SELECT CAST(sum(tf) AS BIGINT) AS n_total, count(*) AS vocab FROM freq),
         ptok AS (
           SELECT doc_id, lang, i - 1 AS ppos,
                  unnest(list_filter(string_split_regex(lower(paras[i]), '[^a-z0-9]+'),
                    x -> x <> '')) AS tk
           FROM (SELECT doc_id, lang, paras,
                        unnest(generate_series(1, len(paras))) AS i
                 FROM planted)),
         scored AS (
           SELECT p.doc_id, p.lang, p.ppos,
                  -ln((coalesce(f.tf, 0) + 1.0) / (t.n_total + t.vocab)) AS nll
           FROM ptok p LEFT JOIN freq f USING (tk) CROSS JOIN tot t),
         ps AS (SELECT doc_id, lang, ppos, count(*) AS p_tokens, sum(nll) AS p_nll
                FROM scored GROUP BY 1, 2, 3),
         ds AS (SELECT doc_id, lang, count(*) AS n_paras,
                       CAST(sum(p_tokens) AS BIGINT) AS n_tokens,
                       round(sum(p_nll) / sum(p_tokens) + 1e-7, 4) + 0.0 AS xent
                FROM ps GROUP BY 1, 2),
         th AS (SELECT lang,
                       quantile_cont(xent, 0.3333333333333333) AS t_head,
                       quantile_cont(xent, 0.6666666666666666) AS t_mid
                FROM ds GROUP BY 1)
         SELECT d.doc_id, d.lang, d.n_paras, d.n_tokens, d.xent,
                CASE WHEN d.xent <= t.t_head THEN 'head'
                     WHEN d.xent <= t.t_mid THEN 'middle'
                     ELSE 'tail' END AS bucket
         FROM ds d JOIN th t USING (lang) ORDER BY d.doc_id""",

    // URL canonicalization replay: the planted five-variant
    // derivation + the full RFC-3986 §6 rule chain (fragment strip,
    // authority lowercase, www./default-port drop, trailing-slash
    // strip, tracking-param filter + param sort), then min-doc_id
    // per canonical url
    "q146_url_dedup" ->
      s"""WITH $urlCanonCtes
       SELECT min(doc_id) AS doc_id, canon_url
       FROM canon GROUP BY canon_url ORDER BY doc_id""",

    // E8 replay: the q65 curation core with its source = the q137
    // extraction replay restricted to q146's URL-dedup survivors
    "q158_e8_webcorpus" ->
      (s"""${curationCoreSql(e8SrcSql)}
          SELECT doc_id, lang, round(q + 1e-9, 6) + 0.0 AS quality,
                 CAST(len(toks) AS INT) AS ws_tokens,
                 CAST(coalesce(list_sum(list_transform(toks,
                        w -> CAST(ceil(length(w) / 4.0) AS BIGINT))), 0)
                      + length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS BIGINT) AS bpeish_tokens
          FROM quality
          WHERE lang = 'en' AND q >= 0.3
          ORDER BY doc_id"""),


    // HTML-extraction replay: the planted template + the full regexp
    // chain (head/script/style strip, block tags → lines, tag strip,
    // entity decode with &amp; last, link-density line verdicts)
    "q137_html_extract" ->
      (s"""WITH $htmlVerdictCtes
         SELECT doc_id,
                CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                CAST(sum(CASE WHEN NOT keep AND length(txt) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
                CAST(sum(n_links) AS BIGINT) AS n_links,
                md5(array_to_string(list_filter(string_split_regex(lower(
                  string_agg(CASE WHEN keep THEN txt END, ' ' ORDER BY lpos)),
                  '[^a-z0-9]+'), x -> x <> ''), ' ')) AS extracted_fp
         FROM verdict GROUP BY 1 ORDER BY 1"""),

    // E7 raw-crawl replay: the q65 curation core with the q137
    // extraction output as its SOURCE — the full raw-HTML → curated
    // pipeline in one composed oracle
    "q138_e7_rawcrawl" ->
      (s"""${curationCoreSql(htmlExtractSrcSql)}
          SELECT doc_id, lang, round(q + 1e-9, 6) + 0.0 AS quality,
                 CAST(len(toks) AS INT) AS ws_tokens,
                 CAST(coalesce(list_sum(list_transform(toks,
                        w -> CAST(ceil(length(w) / 4.0) AS BIGINT))), 0)
                      + length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS BIGINT) AS bpeish_tokens
          FROM quality
          WHERE lang = 'en' AND q >= 0.3
          ORDER BY doc_id"""),

    // E6 incremental-curation replay: the q65 core over the incoming
    // slice PRE-FILTERED by (1) the q94 exact-fingerprint NOT IN and
    // (2) the shared refNearDupDropSubquery at j >= 0.5 (computed
    // over all incoming docs — the vs-reference verdict for a doc is
    // independent of which other incoming docs survive, so filtering
    // before or after the in-batch exact stage is equivalent; the
    // engine runs in-batch exact dedup FIRST since r9 — identical
    // texts get identical verdicts, so the keep set is unchanged).
    // Caveat shared with the in-batch near-dup stage: the replay
    // assumes the engine's dfCap (textCuration's 100k default, passed
    // through to the reference stage) never binds at fixture scale —
    // a corpus with a 100k-doc shingle would diverge (PipelinesSpec
    // gates the fixture's max shingle df against the cap).
    "q125_incremental_curation" -> e6OracleSql,

    // q130 = q125 with the reference near-dup index read from its
    // bucketed at-rest tables (amortizedRefIndex — the q128 storage
    // layout inside the FULL E6 chain). The storage layout cannot
    // change the keep set, so the oracle IS the q125 replay.
    "q130_e6_amortized" -> e6OracleSql,

    // model-quality cluster-dedup replay: the q65 core with the
    // near-dup resolution swapped to CLUSTER grain — pairs → edges →
    // recursive min-label closure (the q92 machinery) → per-component
    // argmax on the q119 classifier score (max rounded score, min-id
    // tie-break; scores are total over docs so no NULL leg) → every
    // non-winner member is a loser
    "q129_quality_cluster_curation" -> {
      val resolve = s"""pairs AS (
            SELECT id_a, id_b FROM verified WHERE j >= 0.5
          ), edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION SELECT id_b AS src, id_a AS dst FROM pairs
          ), nodes AS (SELECT DISTINCT src AS id FROM edges
          ), reach(id, lab) AS (
            SELECT id, id FROM nodes
            UNION SELECT e.src, r.lab FROM edges e JOIN reach r ON r.id = e.dst
          ), comp AS (
            SELECT id AS doc_id, min(lab) AS component FROM reach GROUP BY 1
          ), cfeats AS (
            SELECT doc_id, y, substr(md5(f), 1, 3) AS b FROM (
              SELECT doc_id, lang = 'en' AS y,
                     unnest(list_concat(toks0,
                       list_transform(range(1, len(toks0)),
                         i -> toks0[i] || '_' || toks0[i+1]))) AS f
              FROM (SELECT doc_id, lang,
                      list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                        x -> x <> '') AS toks0
                    FROM documents))
          ), cfc AS (SELECT doc_id, y, b, count(*) AS c FROM cfeats GROUP BY 1, 2, 3
          ), ccc AS (SELECT b, sum(CASE WHEN y THEN c ELSE 0 END) AS cp,
                            sum(CASE WHEN NOT y THEN c ELSE 0 END) AS cn
                     FROM cfc GROUP BY 1
          ), ctot AS (SELECT sum(cp) AS tp, sum(cn) AS tn FROM ccc
          ), cw AS (SELECT b, ln((cp + 1.0) / (tp + 4096.0)) -
                           ln((cn + 1.0) / (tn + 4096.0)) AS w FROM ccc, ctot
          ), cpr AS (SELECT ln(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) + 1.0)
                          - ln(count(*) - sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                               + 1.0) AS bias
                     FROM documents
          ), csc AS (SELECT cfc.doc_id, sum(CAST(cfc.c AS DOUBLE) * cw.w) AS s0
                     FROM cfc JOIN cw USING (b) GROUP BY 1
          ), cscore AS (
            SELECT d.doc_id,
                   round(1.0 / (1.0 + exp(-(coalesce(csc.s0, 0.0) + cpr.bias)))
                     + 1e-9, 6) AS score
            FROM documents d LEFT JOIN csc ON csc.doc_id = d.doc_id, cpr
          ), labeled AS (
            SELECT c.doc_id, c.component, s.score
            FROM comp c JOIN cscore s USING (doc_id)
          ), qmax AS (SELECT component, max(score) AS best FROM labeled GROUP BY 1
          ), winners AS (
            SELECT l.component, min(l.doc_id) AS winner_id
            FROM labeled l JOIN qmax q
              ON q.component = l.component AND l.score = q.best
            GROUP BY 1)"""
      val losers = """SELECT l.doc_id FROM labeled l JOIN winners w
            ON w.component = l.component AND l.doc_id <> w.winner_id"""
      s"""${curationCoreSql("SELECT doc_id, text FROM documents", resolve,
          losers, recursive = true)}
          SELECT doc_id, lang, round(q + 1e-9, 6) + 0.0 AS quality,
                 CAST(len(toks) AS INT) AS ws_tokens,
                 CAST(coalesce(list_sum(list_transform(toks,
                        w -> CAST(ceil(length(w) / 4.0) AS BIGINT))), 0)
                      + length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS BIGINT) AS bpeish_tokens
          FROM quality
          WHERE lang = 'en' AND q >= 0.3
          ORDER BY doc_id"""
    },

    // E4 curation pipeline replayed stage by stage: exact-dedup
    // keepers, md5 MinHash bands + Jaccard verify for near-dup losers,
    // stopword lang-id, quality score, token counts
    "q65_text_curation" ->
      (s"""${curationCoreSql("SELECT doc_id, text FROM documents")}
          SELECT doc_id, lang, round(q + 1e-9, 6) + 0.0 AS quality,
                 CAST(len(toks) AS INT) AS ws_tokens,
                 CAST(coalesce(list_sum(list_transform(toks,
                        w -> CAST(ceil(length(w) / 4.0) AS BIGINT))), 0)
                      + length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS BIGINT) AS bpeish_tokens
          FROM quality
          WHERE lang = 'en' AND q >= 0.3
          ORDER BY doc_id"""),

    // E4 audit-ledger replay: the q65 CTE core plus winner-id
    // aggregations — fingerprint-group min for the exact stage,
    // min-counterpart per pair loser for the near-dup stage — and the
    // CASE attribution over them (verdicts on RAW q, reported value
    // rounded, exactly the operator's convention)
    "q147_curation_audit" ->
      (s"""${curationCoreSql("SELECT doc_id, text FROM documents")},
          fpx AS (SELECT doc_id, md5(array_to_string(toks, ' ')) AS fp FROM tk),
          w AS (SELECT fp, min(doc_id) AS win FROM fpx GROUP BY fp),
          ex AS (SELECT f.doc_id, w.win FROM fpx f JOIN w USING (fp)),
          ndw AS (SELECT greatest(id_a, id_b) AS doc_id,
                         min(least(id_a, id_b)) AS ndwin
                  FROM verified WHERE j >= 0.5 GROUP BY 1)
          SELECT e.doc_id,
                 CASE WHEN e.doc_id <> e.win THEN 'exact_dup'
                      WHEN n.doc_id IS NOT NULL THEN 'near_dup'
                      WHEN q.lang <> 'en' THEN 'lang'
                      WHEN q.q < 0.3 THEN 'quality'
                      ELSE 'kept' END AS stage,
                 CASE WHEN e.doc_id <> e.win THEN CAST(e.win AS VARCHAR)
                      WHEN n.doc_id IS NOT NULL THEN CAST(n.ndwin AS VARCHAR)
                      WHEN q.lang <> 'en' THEN q.lang
                      ELSE NULL END AS detail,
                 round(q.q + 1e-9, 6) + 0.0 AS quality
          FROM ex e LEFT JOIN ndw n ON n.doc_id = e.doc_id
          LEFT JOIN quality q ON q.doc_id = e.doc_id
          ORDER BY e.doc_id"""),

    // full-curation chain replay (q79): the q65 core over the planted
    // train split, then the repetition filter, the 3-gram benchmark
    // decontamination, the PII scrub, and token stats on the SCRUBBED
    // text (the chain's operational order).
    "q79_full_curation" -> {
      val em = TextFunctions.emailPattern
      val ph = TextFunctions.phonePattern
      val aug = """SELECT doc_id,
                  CASE WHEN doc_id % 3 = 0
                       THEN text || ' contact ' || source || '@example.org call +' ||
                            CAST(doc_id % 90 + 10 AS VARCHAR) || ' (' ||
                            CAST(doc_id % 900 + 100 AS VARCHAR) || ') 555-' ||
                            CAST(doc_id % 9000 + 1000 AS VARCHAR)
                       ELSE text END AS text
           FROM documents"""
      s"""${curationCoreSql(s"SELECT doc_id, text FROM ($aug) WHERE doc_id % 17 <> 0")},
          qk AS (SELECT * FROM quality WHERE lang = 'en' AND q >= 0.3),
          rg0 AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 2
                    THEN list_transform(generate_series(1, len(toks) - 1),
                           i -> array_to_string(toks[i:i+1], ' '))
                    ELSE [array_to_string(toks, ' ')] END) AS g
                  FROM qk),
          rc AS (SELECT doc_id, g, count(*) AS c FROM rg0 WHERE g <> '' GROUP BY 1, 2),
          rs AS (SELECT doc_id FROM (
                   SELECT doc_id, max(c)/CAST(sum(c) AS DOUBLE) AS tf,
                          coalesce(sum(CASE WHEN c > 1 THEN c END), 0)
                            / CAST(sum(c) AS DOUBLE) AS df
                   FROM rc GROUP BY 1)
                 WHERE tf <= 0.06 AND df <= 0.12),
          rk AS (SELECT qk.* FROM qk JOIN rs USING (doc_id)),
          bg0 AS (SELECT doc_id,
                         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> x <> '') AS toks
                  FROM ($aug) WHERE doc_id % 17 = 0),
          bg1 AS (SELECT unnest(CASE WHEN len(toks) >= 3
                    THEN list_transform(generate_series(1, len(toks) - 2),
                           i -> array_to_string(toks[i:i+2], ' '))
                    ELSE [array_to_string(toks, ' ')] END) AS g
                  FROM bg0),
          bg AS (SELECT DISTINCT md5(g) AS h FROM bg1 WHERE g <> ''),
          tg0 AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 3
                    THEN list_transform(generate_series(1, len(toks) - 2),
                           i -> array_to_string(toks[i:i+2], ' '))
                    ELSE [array_to_string(toks, ' ')] END) AS g
                  FROM rk),
          tg AS (SELECT DISTINCT doc_id, md5(g) AS h FROM tg0 WHERE g <> ''),
          pd AS (SELECT doc_id, count(*) AS ng FROM tg GROUP BY 1),
          ovr AS (SELECT tg.doc_id, count(*) AS no FROM tg JOIN bg USING (h) GROUP BY 1),
          bad AS (SELECT pd.doc_id FROM pd JOIN ovr USING (doc_id)
                  WHERE no/CAST(ng AS DOUBLE) > 0.05),
          fin AS (SELECT rk.* FROM rk LEFT JOIN bad USING (doc_id)
                  WHERE bad.doc_id IS NULL),
          sc AS (SELECT doc_id, lang, q,
                        regexp_replace(regexp_replace(text, '$em', '<EMAIL>', 'g'),
                                       '$ph', '<PHONE>', 'g') AS stext
                 FROM fin),
          sct AS (SELECT doc_id, lang, q, stext,
                         list_filter(string_split_regex(lower(stext), '[^a-z0-9]+'),
                           x -> x <> '') AS stoks
                  FROM sc)
          SELECT doc_id, lang, round(q + 1e-9, 6) + 0.0 AS quality,
                 CAST(len(stoks) AS INT) AS ws_tokens,
                 CAST(coalesce(list_sum(list_transform(stoks,
                        w -> CAST(ceil(length(w) / 4.0) AS BIGINT))), 0)
                      + length(regexp_replace(stext, '[a-zA-Z0-9\\s]', '', 'g')) AS BIGINT) AS bpeish_tokens,
                 md5(stext) AS text_md5
          FROM sct ORDER BY doc_id"""
    },


    "q30_exact_dedup" ->
      """SELECT md5(array_to_string(
           list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''),
           ' ')) AS fp,
         min(doc_id) AS keeper, count(*) AS n_docs
         FROM documents GROUP BY 1""",

    "q31_token_counts" ->
      (s"""WITH tk AS ($toksSql)
          SELECT source, count(*) AS n_docs,
                 CAST(sum(len(toks)) AS BIGINT) AS ws_tokens,
                 CAST(sum(coalesce(list_sum(list_transform(toks,
                        w -> CAST(ceil(length(w) / 4.0) AS BIGINT))), 0)
                      + length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')))
                   AS BIGINT) AS bpe_tokens
          FROM tk GROUP BY 1"""),

    "q32_quality" ->
      (s"""WITH tk AS ($toksSql), q AS (
            SELECT lang,
                   len(toks) * 1.0 AS ntok,
                   CASE WHEN len(toks) > 0
                        THEN coalesce(list_sum(list_transform(toks, w -> length(w))), 0) * 1.0 / len(toks)
                        ELSE 0.0 END AS mwl,
                   CASE WHEN length(text) > 0
                        THEN length(regexp_replace(text, '[^.,!?;:]', '', 'g')) * 1.0 / length(text)
                        ELSE 0.0 END AS pr,
                   CASE WHEN len(toks) > 0
                        THEN len(list_filter(toks, w -> list_contains($stoplistSql, w))) * 1.0 / len(toks)
                        ELSE 0.0 END AS sr
            FROM tk
          ), score AS (
            SELECT lang,
                   least(1.0, ntok / 100.0) * 0.3
                 + (1.0 - least(1.0, abs(mwl - 5.0) / 5.0)) * 0.3
                 + (1.0 - least(1.0, pr * 10.0)) * 0.2
                 + least(1.0, sr * 3.0) * 0.2 AS q
            FROM q
          ) SELECT lang, count(*) AS n_docs,
                   round(avg(q) + 1e-9, 6) + 0.0 AS avg_quality,
                   round(min(q) + 1e-9, 6) + 0.0 AS min_quality
            FROM score GROUP BY 1"""),

    "q33_lang_id" ->
      (s"""WITH tk AS ($toksSql), scored AS (
            SELECT lang,
                   len(list_filter(toks, w -> list_contains(${langListSql("en")}, w))) AS s_en,
                   len(list_filter(toks, w -> list_contains(${langListSql("de")}, w))) AS s_de,
                   len(list_filter(toks, w -> list_contains(${langListSql("es")}, w))) AS s_es,
                   len(list_filter(toks, w -> list_contains(${langListSql("fr")}, w))) AS s_fr
            FROM tk
          ), pred AS (
            SELECT lang,
                   CASE WHEN greatest(s_en, s_de, s_es, s_fr) = 0 THEN 'und'
                        WHEN s_fr = greatest(s_en, s_de, s_es, s_fr) THEN 'fr'
                        WHEN s_es = greatest(s_en, s_de, s_es, s_fr) THEN 'es'
                        WHEN s_en = greatest(s_en, s_de, s_es, s_fr) THEN 'en'
                        ELSE 'de' END AS predicted
            FROM scored
          ) SELECT lang, predicted, count(*) AS n FROM pred GROUP BY 1, 2"""),

    "q34_ngram_jaccard" ->
      (s"""WITH sh AS ($shinglesSql), pairs AS (
            SELECT a.source,
                   len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS inter,
                   len(a.sh) + len(b.sh)
                     - len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS uni
            FROM sh a JOIN sh b
              ON a.source = b.source AND a.doc_id < b.doc_id
          ) SELECT source, count(*) AS n_pairs,
                   round(avg(inter * 1.0 / uni) + 1e-9, 6) + 0.0 AS avg_jaccard,
                   round(max(inter * 1.0 / uni) + 1e-9, 6) + 0.0 AS max_jaccard
            FROM pairs GROUP BY 1"""),

    "q35_minhash_lsh" ->
      (s"""WITH $minhashVerifiedCtes
           SELECT count(*) AS n_candidates,
                   CAST(coalesce(sum(CASE WHEN j >= 0.3 THEN 1 END), 0) AS BIGINT) AS n_high,
                   round(avg(j) + 1e-9, 6) + 0.0 AS avg_jaccard
            FROM verified"""),

    // cross-source duplication mass: the q35 verified pairs at
    // j >= 0.3, each pair keyed by its lexicographically-ordered
    // source pair; pair/doc/ jaccard stats per (source_a, source_b).
    "q152_source_overlap" ->
      (s"""WITH $minhashVerifiedCtes,
          vsrc AS (
            SELECT least(da.source, db.source) AS source_a,
                   greatest(da.source, db.source) AS source_b,
                   v.id_a, v.id_b, v.j
            FROM verified v JOIN documents da ON da.doc_id = v.id_a
                            JOIN documents db ON db.doc_id = v.id_b
            WHERE v.j >= 0.3),
          ps AS (
            SELECT source_a, source_b, count(*) AS n_pairs,
                   round(avg(j) + 1e-9, 6) + 0.0 AS avg_jaccard,
                   round(max(j) + 1e-9, 6) + 0.0 AS max_jaccard
            FROM vsrc GROUP BY 1, 2),
          ds AS (
            SELECT source_a, source_b, count(DISTINCT id) AS n_docs FROM (
              SELECT source_a, source_b, id_a AS id FROM vsrc
              UNION ALL
              SELECT source_a, source_b, id_b AS id FROM vsrc)
            GROUP BY 1, 2)
          SELECT ps.source_a, ps.source_b, n_pairs, n_docs,
                 avg_jaccard, max_jaccard
          FROM ps JOIN ds USING (source_a, source_b)
          ORDER BY 1, 2"""),

    // winnowing replay: list-comprehension window selection (min
    // hash, rightmost tie) over per-doc k-gram md5 lists — the
    // engine's doc-grain lead/min windows in list form.
    "q132_winnow_fingerprints" ->
      (s"""WITH ${winnowSelSql(4, 4)}
          SELECT doc_id, CAST(ng AS BIGINT) AS ng,
                 CAST(len(fps) AS BIGINT) AS n_fp,
                 CAST(len(list_distinct(list_transform(fps, f -> substr(f, 1, 32)))) AS BIGINT) AS n_hash,
                 list_sort(list_transform(fps, f -> substr(f, 1, 32)))[1] AS min_h
          FROM sel ORDER BY doc_id"""),

    "q133_winnow_overlap" ->
      (s"""WITH ${winnowSelSql(4, 4)},
          fpu AS (SELECT doc_id, unnest(fps) AS f FROM sel),
          fph AS (SELECT DISTINCT doc_id, substr(f, 1, 32) AS h FROM fpu),
          sizes AS (SELECT doc_id, count(*) AS nfp FROM fph GROUP BY 1),
          pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
            FROM fph a JOIN fph b ON a.h = b.h AND a.doc_id < b.doc_id
            GROUP BY 1, 2 HAVING count(*) >= 2)
          SELECT id_a, id_b, shared, sa.nfp AS nfp_a, sb.nfp AS nfp_b,
                 round(shared * 1.0 / least(sa.nfp, sb.nfp) + 1e-9, 6) + 0.0 AS overlap
          FROM pairs JOIN sizes sa ON sa.doc_id = id_a
                     JOIN sizes sb ON sb.doc_id = id_b
          ORDER BY id_a, id_b"""),

    // containment-dedup replay: the q133 winnow-overlap pairs at
    // containment >= 0.8, the q92 recursive min-label closure, then
    // per-source survivors (kept = everything minus non-representative
    // component members)
    "q140_containment_dedup" ->
      (s"""WITH RECURSIVE ${winnowSelSql(4, 4)},
          fpu AS (SELECT doc_id, unnest(fps) AS f FROM sel),
          fph AS (SELECT DISTINCT doc_id, substr(f, 1, 32) AS h FROM fpu),
          sizes AS (SELECT doc_id, count(*) AS nfp FROM fph GROUP BY 1),
          shared AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
            FROM fph a JOIN fph b ON a.h = b.h AND a.doc_id < b.doc_id
            GROUP BY 1, 2 HAVING count(*) >= 2),
          ov AS (
            SELECT id_a, id_b
            FROM shared JOIN sizes sa ON sa.doc_id = id_a
                        JOIN sizes sb ON sb.doc_id = id_b
            WHERE round(shared * 1.0 / least(sa.nfp, sb.nfp) + 1e-9, 6) >= 0.8),
          edges AS (
            SELECT id_a AS src, id_b AS dst FROM ov
            UNION SELECT id_b AS src, id_a AS dst FROM ov),
          nodes AS (SELECT DISTINCT src AS id FROM edges),
          reach(id, lab) AS (
            SELECT id, id FROM nodes
            UNION SELECT e.src, r.lab FROM edges e JOIN reach r ON r.id = e.dst),
          comp AS (SELECT id, min(lab) AS component FROM reach GROUP BY 1),
          losers AS (SELECT id FROM comp WHERE id <> component)
          SELECT source, count(*) AS n_kept,
                 md5(array_to_string(list_sort(list(d.doc_id)), ',')) AS kept_md5
          FROM documents d LEFT JOIN losers l ON l.id = d.doc_id
          WHERE l.id IS NULL
          GROUP BY 1 ORDER BY 1"""),

    // incremental-containment replay: the q133 winnow machinery split
    // asymmetrically across the q94/q123 corpus halves — incoming
    // (doc_id % 7 >= 3) docs sharing >= 2 selected hashes with any
    // reference (doc_id % 7 < 3) doc at containment >= 0.8 drop;
    // winnowing is per-document, so selecting over the full corpus
    // then splitting in the pair join is exact
    "q142_containment_incremental" ->
      (s"""WITH ${winnowSelSql(4, 4)},
          fpu AS (SELECT doc_id, unnest(fps) AS f FROM sel),
          fph AS (SELECT DISTINCT doc_id, substr(f, 1, 32) AS h FROM fpu),
          sizes AS (SELECT doc_id, count(*) AS nfp FROM fph GROUP BY 1),
          pairs AS (
            SELECT i.doc_id AS inc_id, r.doc_id AS ref_id, count(*) AS shared
            FROM fph i JOIN fph r ON i.h = r.h
            WHERE i.doc_id % 7 >= 3 AND r.doc_id % 7 < 3
            GROUP BY 1, 2 HAVING count(*) >= 2),
          dropped AS (
            SELECT DISTINCT inc_id
            FROM pairs JOIN sizes si ON si.doc_id = inc_id
                       JOIN sizes sr ON sr.doc_id = ref_id
            WHERE round(shared * 1.0 / least(si.nfp, sr.nfp) + 1e-9, 6) >= 0.8)
          SELECT source, count(*) AS n_kept, min(doc_id) AS first_kept,
                 CAST(sum(doc_id) AS BIGINT) AS sum_ids
          FROM documents d
          WHERE doc_id % 7 >= 3
            AND NOT EXISTS (SELECT 1 FROM dropped x WHERE x.inc_id = d.doc_id)
          GROUP BY 1 ORDER BY 1"""),

    // winnow-upsert replay: both generations' asymmetric pair joins
    // over the shared full-corpus winnow selection — the gen-1
    // reference is ref0 ∪ (crawl-1 survivors), exactly the engine's
    // append-only union
    "q166_winnow_upsert" ->
      (s"""WITH ${winnowSelSql(4, 4)},
          fpu AS (SELECT doc_id, unnest(fps) AS f FROM sel),
          fph AS (SELECT DISTINCT doc_id, substr(f, 1, 32) AS h FROM fpu),
          sizes AS (SELECT doc_id, count(*) AS nfp FROM fph GROUP BY 1),
          p1 AS (
            SELECT i.doc_id AS inc_id, r.doc_id AS ref_id, count(*) AS shared
            FROM fph i JOIN fph r ON i.h = r.h
            WHERE i.doc_id % 7 IN (3, 4) AND r.doc_id % 7 < 3
            GROUP BY 1, 2 HAVING count(*) >= 2),
          d1 AS (
            SELECT DISTINCT inc_id
            FROM p1 JOIN sizes si ON si.doc_id = inc_id
                    JOIN sizes sr ON sr.doc_id = ref_id
            WHERE round(shared * 1.0 / least(si.nfp, sr.nfp) + 1e-9, 6) >= 0.8),
          ref2 AS (
            SELECT doc_id FROM documents WHERE doc_id % 7 < 3
            UNION ALL
            SELECT doc_id FROM documents WHERE doc_id % 7 IN (3, 4)
              AND NOT EXISTS (SELECT 1 FROM d1 WHERE d1.inc_id = doc_id)),
          p2 AS (
            SELECT i.doc_id AS inc_id, r.doc_id AS ref_id, count(*) AS shared
            FROM fph i JOIN fph r ON i.h = r.h
                 JOIN ref2 ON ref2.doc_id = r.doc_id
            WHERE i.doc_id % 7 IN (5, 6)
            GROUP BY 1, 2 HAVING count(*) >= 2),
          d2 AS (
            SELECT DISTINCT inc_id
            FROM p2 JOIN sizes si ON si.doc_id = inc_id
                    JOIN sizes sr ON sr.doc_id = ref_id
            WHERE round(shared * 1.0 / least(si.nfp, sr.nfp) + 1e-9, 6) >= 0.8)
          SELECT 1 AS generation, source, count(*) AS n_kept,
                 min(doc_id) AS first_kept, CAST(sum(doc_id) AS BIGINT) AS sum_ids
          FROM documents d WHERE doc_id % 7 IN (3, 4)
            AND NOT EXISTS (SELECT 1 FROM d1 WHERE d1.inc_id = d.doc_id)
          GROUP BY 2
          UNION ALL
          SELECT 2 AS generation, source, count(*) AS n_kept,
                 min(doc_id) AS first_kept, CAST(sum(doc_id) AS BIGINT) AS sum_ids
          FROM documents d WHERE doc_id % 7 IN (5, 6)
            AND NOT EXISTS (SELECT 1 FROM d2 WHERE d2.inc_id = d.doc_id)
          GROUP BY 2
          ORDER BY generation, source"""),

    // winnow-delete replay: the q142 chain with the reference minus
    // the takedown batch — anti-join deletion ≡ rebuild-without
    "q167_winnow_delete" ->
      (s"""WITH ${winnowSelSql(4, 4)},
          fpu AS (SELECT doc_id, unnest(fps) AS f FROM sel),
          fph AS (SELECT DISTINCT doc_id, substr(f, 1, 32) AS h FROM fpu),
          sizes AS (SELECT doc_id, count(*) AS nfp FROM fph GROUP BY 1),
          pairs AS (
            SELECT i.doc_id AS inc_id, r.doc_id AS ref_id, count(*) AS shared
            FROM fph i JOIN fph r ON i.h = r.h
            WHERE i.doc_id % 7 >= 3 AND r.doc_id % 7 < 3
              AND r.doc_id % 11 <> 0
            GROUP BY 1, 2 HAVING count(*) >= 2),
          dropped AS (
            SELECT DISTINCT inc_id
            FROM pairs JOIN sizes si ON si.doc_id = inc_id
                       JOIN sizes sr ON sr.doc_id = ref_id
            WHERE round(shared * 1.0 / least(si.nfp, sr.nfp) + 1e-9, 6) >= 0.8)
          SELECT source, count(*) AS n_kept, min(doc_id) AS first_kept,
                 CAST(sum(doc_id) AS BIGINT) AS sum_ids
          FROM documents d
          WHERE doc_id % 7 >= 3
            AND NOT EXISTS (SELECT 1 FROM dropped x WHERE x.inc_id = d.doc_id)
          GROUP BY 1 ORDER BY 1"""),

    // winnow-compaction replay: fresh capped build on the survivors —
    // the takedown slice removed, a df <= 1 window over the SURVIVOR
    // fingerprint relation as the capped join side, denominators from
    // the uncapped survivor relation (true fingerprint mass). q171
    // (the at-rest compacted generation) shares this oracle: the
    // delete→compact chain is deterministic, so inline and
    // store/re-read forms must hash identically.
    "q169_winnow_compact" ->
      (s"""WITH ${winnowSelSql(4, 4)},
          fpu AS (SELECT doc_id, unnest(fps) AS f FROM sel),
          fph AS (SELECT DISTINCT doc_id, substr(f, 1, 32) AS h FROM fpu),
          surv AS (SELECT doc_id, h FROM fph
                   WHERE doc_id % 7 < 3 AND doc_id % 11 <> 0),
          capped AS (SELECT doc_id, h FROM (
                       SELECT doc_id, h, count(*) OVER (PARTITION BY h) AS df
                       FROM surv) WHERE df <= 1),
          sizes_inc AS (SELECT doc_id, count(*) AS nfp FROM fph
                        WHERE doc_id % 7 >= 3 GROUP BY 1),
          sizes_ref AS (SELECT doc_id, count(*) AS nfp FROM surv GROUP BY 1),
          pairs AS (
            SELECT i.doc_id AS inc_id, r.doc_id AS ref_id, count(*) AS shared
            FROM fph i JOIN capped r ON i.h = r.h
            WHERE i.doc_id % 7 >= 3
            GROUP BY 1, 2 HAVING count(*) >= 2),
          dropped AS (
            SELECT DISTINCT inc_id
            FROM pairs JOIN sizes_inc si ON si.doc_id = inc_id
                       JOIN sizes_ref sr ON sr.doc_id = ref_id
            WHERE round(shared * 1.0 / least(si.nfp, sr.nfp) + 1e-9, 6) >= 0.8)
          SELECT source, count(*) AS n_kept, min(doc_id) AS first_kept,
                 CAST(sum(doc_id) AS BIGINT) AS sum_ids
          FROM documents d
          WHERE doc_id % 7 >= 3
            AND NOT EXISTS (SELECT 1 FROM dropped x WHERE x.inc_id = d.doc_id)
          GROUP BY 1 ORDER BY 1"""),

    // near-dup-compaction replay: fresh capped build on the survivors,
    // ROW-grain — a df <= 1 window over the survivor shingle rows,
    // md5 minhash signatures and bands RE-DERIVED from the capped
    // rows, verify counts via the capped ref side, Jaccard with the
    // capped ref mass (the engine's nearDupAgainstIndex denominator
    // when the stored relation is the compacted one)
    "q170_neardup_compact" ->
      (s"""WITH sh0 AS ($shinglesSql),
          srow AS (SELECT doc_id, unnest(sh) AS sgl FROM sh0
                   WHERE doc_id % 7 < 3 AND doc_id % 11 <> 0),
          scap AS (SELECT doc_id, sgl FROM (
                     SELECT doc_id, sgl, count(*) OVER (PARTITION BY sgl) AS df
                     FROM srow) WHERE df <= 1),
          irow AS (SELECT doc_id, unnest(sh) AS sgl FROM sh0
                   WHERE doc_id % 7 >= 3),
          hr AS (SELECT doc_id, md5(sgl) AS h FROM scap),
          hi AS (SELECT doc_id, md5(sgl) AS h FROM irow),
          sigr AS (
            SELECT doc_id,
                   [min(substr(h, 1, 4)), min(substr(h, 5, 4)),
                    min(substr(h, 9, 4)), min(substr(h, 13, 4)),
                    min(substr(h, 17, 4)), min(substr(h, 21, 4)),
                    min(substr(h, 25, 4)), min(substr(h, 29, 4))] AS s
            FROM hr GROUP BY doc_id),
          sigi AS (
            SELECT doc_id,
                   [min(substr(h, 1, 4)), min(substr(h, 5, 4)),
                    min(substr(h, 9, 4)), min(substr(h, 13, 4)),
                    min(substr(h, 17, 4)), min(substr(h, 21, 4)),
                    min(substr(h, 25, 4)), min(substr(h, 29, 4))] AS s
            FROM hi GROUP BY doc_id),
          br AS (
            SELECT doc_id,
                   unnest(['0#' || s[1] || '#' || s[2], '1#' || s[3] || '#' || s[4],
                           '2#' || s[5] || '#' || s[6], '3#' || s[7] || '#' || s[8]]) AS band
            FROM sigr),
          bi AS (
            SELECT doc_id,
                   unnest(['0#' || s[1] || '#' || s[2], '1#' || s[3] || '#' || s[4],
                           '2#' || s[5] || '#' || s[6], '3#' || s[7] || '#' || s[8]]) AS band
            FROM sigi),
          cand AS (
            SELECT DISTINCT i.doc_id AS inc_id, r.doc_id AS ref_id
            FROM bi i JOIN br r ON i.band = r.band),
          inter AS (
            SELECT c.inc_id, c.ref_id, count(*) AS shared
            FROM cand c JOIN irow a ON a.doc_id = c.inc_id
                        JOIN scap b ON b.doc_id = c.ref_id AND b.sgl = a.sgl
            GROUP BY 1, 2),
          szi AS (SELECT doc_id, count(*) AS sz FROM irow GROUP BY 1),
          szr AS (SELECT doc_id, count(*) AS sz FROM scap GROUP BY 1),
          dup AS (
            SELECT DISTINCT inc_id
            FROM inter JOIN szi ON szi.doc_id = inc_id
                       JOIN szr ON szr.doc_id = ref_id
            WHERE shared * 1.0 / (szi.sz + szr.sz - shared) >= 0.3)
          SELECT source, count(*) AS n_kept, min(doc_id) AS first_kept,
                 CAST(sum(doc_id) AS BIGINT) AS sum_ids
          FROM documents d
          WHERE doc_id % 7 >= 3
            AND NOT EXISTS (SELECT 1 FROM dup x WHERE x.inc_id = d.doc_id)
          GROUP BY 1 ORDER BY 1"""),

    // components replay: the q35 pair machinery (j >= 0.3 losers) and
    // a recursive-CTE transitive closure — min reachable id = the
    // component representative the engine's label propagation finds.
    "q92_dup_components" ->
      (s"""WITH RECURSIVE sh AS ($shinglesSql), hashed AS (
            SELECT doc_id, md5(unnest(sh)) AS h FROM sh
          ), sig AS (
            SELECT doc_id,
                   [min(substr(h, 1, 4)), min(substr(h, 5, 4)),
                    min(substr(h, 9, 4)), min(substr(h, 13, 4)),
                    min(substr(h, 17, 4)), min(substr(h, 21, 4)),
                    min(substr(h, 25, 4)), min(substr(h, 29, 4))] AS s
            FROM hashed GROUP BY doc_id
          ), banded AS (
            SELECT doc_id,
                   unnest(['0#' || s[1] || '#' || s[2], '1#' || s[3] || '#' || s[4],
                           '2#' || s[5] || '#' || s[6], '3#' || s[7] || '#' || s[8]]) AS band
            FROM sig
          ), cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.doc_id < b.doc_id
          ), verified AS (
            SELECT id_a, id_b,
                   len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) * 1.0 /
                   (len(sa.sh) + len(sb.sh)
                    - len(list_filter(sa.sh, x -> list_contains(sb.sh, x)))) AS j
            FROM cand JOIN sh sa ON sa.doc_id = id_a
                      JOIN sh sb ON sb.doc_id = id_b
          ), edges AS (
            SELECT id_a AS src, id_b AS dst FROM verified WHERE j >= 0.3
            UNION
            SELECT id_b AS src, id_a AS dst FROM verified WHERE j >= 0.3
          ), nodes AS (SELECT DISTINCT src AS id FROM edges
          ), reach(id, lab) AS (
            SELECT id, id FROM nodes
            UNION
            SELECT e.src, r.lab FROM edges e JOIN reach r ON r.id = e.dst
          )
          SELECT id AS doc_id, min(lab) AS component
          FROM reach GROUP BY 1 ORDER BY 1"""),

    // upsert-verb replay: the oracle closes the WHOLE orders-adjacency
    // pair graph in one recursive CTE — the Spark side's two-batch
    // incremental maintenance must produce the identical labeling
    "q175_components_upsert" ->
      """WITH RECURSIVE pairs AS (
           SELECT b.o_orderkey AS id_a, a.o_orderkey AS id_b
           FROM orders a JOIN orders b ON b.o_orderkey = a.o_orderkey + 1
           WHERE b.o_orderkey % 50 <> 0
         ), edges AS (
           SELECT id_a AS src, id_b AS dst FROM pairs
           UNION SELECT id_b AS src, id_a AS dst FROM pairs
         ), nodes AS (SELECT DISTINCT src AS id FROM edges
         ), reach(id, lab) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT e.src, r.lab FROM edges e JOIN reach r ON r.id = e.dst
         )
         SELECT id AS o_orderkey, min(lab) AS component
         FROM reach GROUP BY 1""",

    // at-rest labeling replay: identical to q175 — the store/re-read
    // round trip plus the upsert must be invisible to the result
    // (store-then-apply ≡ one-shot closure, the q128-vs-q123 proof
    // shape for the cluster family)
    "q176_components_at_rest" ->
      """WITH RECURSIVE pairs AS (
           SELECT b.o_orderkey AS id_a, a.o_orderkey AS id_b
           FROM orders a JOIN orders b ON b.o_orderkey = a.o_orderkey + 1
           WHERE b.o_orderkey % 50 <> 0
         ), edges AS (
           SELECT id_a AS src, id_b AS dst FROM pairs
           UNION SELECT id_b AS src, id_a AS dst FROM pairs
         ), nodes AS (SELECT DISTINCT src AS id FROM edges
         ), reach(id, lab) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT e.src, r.lab FROM edges e JOIN reach r ON r.id = e.dst
         )
         SELECT id AS o_orderkey, min(lab) AS component
         FROM reach GROUP BY 1""",

    // incremental near-dup replay: the q92 signature/band machinery
    // split by the q94 reference/incoming rule (the shared
    // refNearDupDropSubquery); dropped = any cross-corpus band
    // collision whose exact Jaccard ≥ 0.3
    "q123_neardup_incremental" -> nearDupIncrementalOracleSql,

    // takedown-deletion replay: the q123 chain with the reference
    // minus the removal batch — anti-join delete ≡ rebuild-without
    "q164_index_delete" -> indexDeleteOracleSql,

    // two-generation upsert replay: crawl 1 vs ref0, then crawl 2 vs
    // ref1 = ref0 ∪ accepted(crawl 1) — both chains instantiate the
    // SHARED drop-chain builder, so the layout cannot drift from
    // q123/q125/q128/q130.
    "q151_neardup_upsert" ->
      s"""WITH sh0 AS ($shinglesSql),
        ref0 AS (SELECT doc_id, sh FROM sh0 WHERE doc_id % 7 < 3),
        inc1 AS (SELECT doc_id, sh FROM sh0 WHERE doc_id % 7 IN (3, 4)),
        ${nearDupDropCtes("g1", "inc1", "ref0", 0.3)},
        ref1 AS (SELECT doc_id, sh FROM ref0
                 UNION ALL
                 SELECT doc_id, sh FROM inc1
                 WHERE doc_id NOT IN (SELECT inc_id FROM g1dup)),
        inc2 AS (SELECT doc_id, sh FROM sh0 WHERE doc_id % 7 >= 5),
        ${nearDupDropCtes("g2", "inc2", "ref1", 0.3)}
        SELECT * FROM (
          SELECT 1 AS generation, d.source, count(*) AS n_kept,
                 min(d.doc_id) AS first_kept,
                 CAST(sum(d.doc_id) AS BIGINT) AS sum_ids
          FROM documents d
          WHERE d.doc_id % 7 IN (3, 4)
            AND d.doc_id NOT IN (SELECT inc_id FROM g1dup)
          GROUP BY 2
          UNION ALL
          SELECT 2 AS generation, d.source, count(*) AS n_kept,
                 min(d.doc_id) AS first_kept,
                 CAST(sum(d.doc_id) AS BIGINT) AS sum_ids
          FROM documents d
          WHERE d.doc_id % 7 >= 5
            AND d.doc_id NOT IN (SELECT inc_id FROM g2dup)
          GROUP BY 2)
        ORDER BY generation, source""",

    // q128 = q123 with the reference index read from its bucketed
    // at-rest tables — the storage layout cannot change the keep set,
    // so the oracle IS the q123 replay (and the shared gate proves the
    // bucketed write/read round-trip is lossless)
    "q128_neardup_amortized" -> nearDupIncrementalOracleSql,

    // winner replay: the q92 closure, then max-quality / min-id argmax
    // as plain aggregations over the labeled membership
    "q122_component_winners" ->
      (s"""WITH RECURSIVE sh AS ($shinglesSql), hashed AS (
            SELECT doc_id, md5(unnest(sh)) AS h FROM sh
          ), sig AS (
            SELECT doc_id,
                   [min(substr(h, 1, 4)), min(substr(h, 5, 4)),
                    min(substr(h, 9, 4)), min(substr(h, 13, 4)),
                    min(substr(h, 17, 4)), min(substr(h, 21, 4)),
                    min(substr(h, 25, 4)), min(substr(h, 29, 4))] AS s
            FROM hashed GROUP BY doc_id
          ), banded AS (
            SELECT doc_id,
                   unnest(['0#' || s[1] || '#' || s[2], '1#' || s[3] || '#' || s[4],
                           '2#' || s[5] || '#' || s[6], '3#' || s[7] || '#' || s[8]]) AS band
            FROM sig
          ), cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.doc_id < b.doc_id
          ), verified AS (
            SELECT id_a, id_b,
                   len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) * 1.0 /
                   (len(sa.sh) + len(sb.sh)
                    - len(list_filter(sa.sh, x -> list_contains(sb.sh, x)))) AS j
            FROM cand JOIN sh sa ON sa.doc_id = id_a
                      JOIN sh sb ON sb.doc_id = id_b
          ), edges AS (
            SELECT id_a AS src, id_b AS dst FROM verified WHERE j >= 0.3
            UNION
            SELECT id_b AS src, id_a AS dst FROM verified WHERE j >= 0.3
          ), nodes AS (SELECT DISTINCT src AS id FROM edges
          ), reach(id, lab) AS (
            SELECT id, id FROM nodes
            UNION
            SELECT e.src, r.lab FROM edges e JOIN reach r ON r.id = e.dst
          ), comp AS (
            SELECT id AS doc_id, min(lab) AS component FROM reach GROUP BY 1
          ), lab2 AS (
            SELECT c.doc_id, c.component, d.n_chars AS q
            FROM comp c JOIN documents d USING (doc_id)
          ), qm AS (
            SELECT component, max(q) AS best_quality, count(*) AS n_members
            FROM lab2 GROUP BY 1
          )
          SELECT l.component, min(l.doc_id) AS winner_id,
                 qm.n_members, qm.best_quality
          FROM lab2 l JOIN qm ON qm.component = l.component
                       AND l.q = qm.best_quality
          GROUP BY l.component, qm.n_members, qm.best_quality
          ORDER BY l.component"""),

    // incremental-dedup replay: the Bloom sketch is pruning-only, so
    // the oracle is the exact NOT EXISTS the operator guarantees.
    "q94_bloom_dedup" ->
      """WITH fp AS (
           SELECT doc_id, source,
                  md5(array_to_string(
                    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                x -> x <> ''),
                    ' ')) AS fp
           FROM documents
         ), ref AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 7 < 3)
         SELECT source, count(*) AS n_kept, min(doc_id) AS first_kept,
                CAST(sum(doc_id) AS BIGINT) AS sum_ids
         FROM fp d
         WHERE doc_id % 7 >= 3
           AND NOT EXISTS (SELECT 1 FROM ref r WHERE r.fp = d.fp)
         GROUP BY 1 ORDER BY 1""",

    // vocab replay: same two-level aggregation.
    "q98_vocab_stats" ->
      (s"""WITH tk AS ($toksSql), ex AS (
            SELECT source, unnest(toks) AS tk FROM tk
          ), c AS (
            SELECT source, tk, count(*) AS c FROM ex GROUP BY 1, 2
          )
          SELECT source, count(*) AS vocab,
                 CAST(sum(c) AS BIGINT) AS tokens,
                 CAST(coalesce(sum(CASE WHEN c = 1 THEN 1 END), 0) AS BIGINT)
                   AS hapax,
                 max(c) AS top_count,
                 round(max(c) * 1.0 / sum(c) + 1e-9, 6) + 0.0 AS top_share
          FROM c GROUP BY 1 ORDER BY 1"""),

    // split replay: identical literal hex thresholds (generated by
    // the same splitThresholds call the operator uses).
    // datasheet replay: per-doc lang CASE (the q33 tie order),
    // quality blend (q32), fingerprint winners (q30), per-source
    // aggregation + vocab
    "q159_corpus_datasheet" ->
      (s"""WITH tk AS ($toksSql),
          sc AS (
            SELECT doc_id, source, toks,
                   md5(array_to_string(toks, ' ')) AS fp,
                   len(list_filter(toks, w -> list_contains(${langListSql("en")}, w))) AS s_en,
                   len(list_filter(toks, w -> list_contains(${langListSql("de")}, w))) AS s_de,
                   len(list_filter(toks, w -> list_contains(${langListSql("es")}, w))) AS s_es,
                   len(list_filter(toks, w -> list_contains(${langListSql("fr")}, w))) AS s_fr,
                   len(toks) * 1.0 AS ntok,
                   CASE WHEN len(toks) > 0
                        THEN coalesce(list_sum(list_transform(toks, w -> length(w))), 0) * 1.0 / len(toks)
                        ELSE 0.0 END AS mwl,
                   CASE WHEN length(text) > 0
                        THEN length(regexp_replace(text, '[^.,!?;:]', '', 'g')) * 1.0 / length(text)
                        ELSE 0.0 END AS pr,
                   CASE WHEN len(toks) > 0
                        THEN len(list_filter(toks, w -> list_contains($stoplistSql, w))) * 1.0 / len(toks)
                        ELSE 0.0 END AS sr
            FROM tk),
          b AS (
            SELECT doc_id, source, toks, fp,
                   CASE WHEN greatest(s_en, s_de, s_es, s_fr) = 0 THEN 'und'
                        WHEN s_fr = greatest(s_en, s_de, s_es, s_fr) THEN 'fr'
                        WHEN s_es = greatest(s_en, s_de, s_es, s_fr) THEN 'es'
                        WHEN s_en = greatest(s_en, s_de, s_es, s_fr) THEN 'en'
                        ELSE 'de' END AS lang_pred,
                   least(1.0, ntok / 100.0) * 0.3
                 + (1.0 - least(1.0, abs(mwl - 5.0) / 5.0)) * 0.3
                 + (1.0 - least(1.0, pr * 10.0)) * 0.2
                 + least(1.0, sr * 3.0) * 0.2 AS q
            FROM sc),
          w AS (SELECT fp, min(doc_id) AS wid FROM b GROUP BY 1),
          f AS (SELECT b.*, b.doc_id <> w.wid AS is_dup
                FROM b JOIN w USING (fp)),
          ps AS (
            SELECT source, count(*) AS n_docs,
                   CAST(sum(len(toks)) AS BIGINT) AS ws_tokens,
                   round(avg(CASE WHEN lang_pred = 'en' THEN 1.0 ELSE 0.0 END) + 1e-9, 4) + 0.0 AS pct_en,
                   round(avg(CASE WHEN is_dup THEN 1.0 ELSE 0.0 END) + 1e-9, 4) + 0.0 AS dup_rate,
                   round(avg(q) + 1e-9, 6) + 0.0 AS avg_quality
            FROM f GROUP BY 1),
          vc AS (SELECT source, count(DISTINCT w) AS vocab
                 FROM (SELECT source, unnest(toks) AS w FROM tk) GROUP BY 1)
          SELECT ps.source, n_docs, ws_tokens, vocab, pct_en, dup_rate,
                 avg_quality
          FROM ps JOIN vc USING (source) ORDER BY 1"""),

    // leakage replay: the q97 split labels (seed 11) on the q35
    // verified pairs, cross-split rows only, the q152 stat tail
    "q155_split_leakage" -> locally {
      val thrs = TextDedup.splitThresholds(Seq(0.8, 0.1, 0.1))
      def h = "substr(md5('11#' || CAST(doc_id AS VARCHAR)), 1, 12)"
      s"""WITH $minhashVerifiedCtes,
          lab AS (
            SELECT doc_id,
                   CASE WHEN $h < '${thrs(0)}' THEN 'train'
                        WHEN $h < '${thrs(1)}' THEN 'val'
                        WHEN $h < '${thrs(2)}' THEN 'test'
                        ELSE 'holdout' END AS split
            FROM documents),
          vsrc AS (
            SELECT least(la.split, lb.split) AS split_a,
                   greatest(la.split, lb.split) AS split_b,
                   v.id_a, v.id_b, v.j
            FROM verified v JOIN lab la ON la.doc_id = v.id_a
                            JOIN lab lb ON lb.doc_id = v.id_b
            WHERE v.j >= 0.3 AND la.split <> lb.split),
          ps AS (
            SELECT split_a, split_b, count(*) AS n_pairs,
                   round(avg(j) + 1e-9, 6) + 0.0 AS avg_jaccard,
                   round(max(j) + 1e-9, 6) + 0.0 AS max_jaccard
            FROM vsrc GROUP BY 1, 2),
          ds AS (
            SELECT split_a, split_b, count(DISTINCT id) AS n_docs FROM (
              SELECT split_a, split_b, id_a AS id FROM vsrc
              UNION ALL
              SELECT split_a, split_b, id_b AS id FROM vsrc)
            GROUP BY 1, 2)
          SELECT ps.split_a, ps.split_b, n_pairs, n_docs,
                 avg_jaccard, max_jaccard
          FROM ps JOIN ds USING (split_a, split_b)
          ORDER BY 1, 2"""
    },

    "q97_split_assign" -> locally {
      val thrs = TextDedup.splitThresholds(Seq(0.8, 0.1, 0.1))
      def h = "substr(md5('11#' || CAST(doc_id AS VARCHAR)), 1, 12)"
      s"""WITH lab AS (
            SELECT source, doc_id,
                   CASE WHEN $h < '${thrs(0)}' THEN 'train'
                        WHEN $h < '${thrs(1)}' THEN 'val'
                        WHEN $h < '${thrs(2)}' THEN 'test'
                        ELSE 'holdout' END AS split
            FROM documents)
          SELECT source, split, count(*) AS n_docs, min(doc_id) AS first_id,
                 CAST(sum(doc_id) AS BIGINT) AS sum_ids
          FROM lab GROUP BY 1, 2 ORDER BY 1, 2"""
    },

    // PQ codes replay: the full per-subspace Lloyd fit + float-cast
    // books + argmin assignment, term-by-term identical arithmetic.
    "q103_pq_codes" ->
      (s"""$pqCoreSql
          SELECT vec_id, CAST(sub AS INT) AS sub, CAST(code AS INT) AS code
          FROM codes ORDER BY vec_id, sub"""),

    // PQ ADC replay: per-query LUT of true squared L2 to every
    // centroid, m-row sums over the code relation, rounded-distance
    // ranking with corpus-id tie-breaks.
    "q104_pq_adc_topk" ->
      (s"""$pqCoreSql,
       lut AS MATERIALIZED (
         SELECT q.vec_id AS query_id, c.sub, c.code,
                ((${pqSelfSql("c")}) - 2.0*(${pqDotSql("q", "c")})
                  + (${pqQSelfSql("q", "c")})) AS d
         FROM embeddings q CROSS JOIN fl c WHERE q.vec_id < 20),
       adc AS (
         SELECT l.query_id, co.vec_id, round(sum(l.d) + 1e-9, 6) + 0.0 AS dist
         FROM codes co JOIN lut l ON l.sub = co.sub AND l.code = co.code
         WHERE l.query_id <> co.vec_id GROUP BY 1, 2),
       rk AS (
         SELECT query_id, vec_id AS corpus_id, dist,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY dist ASC, vec_id ASC) AS rank
         FROM adc)
       SELECT query_id, corpus_id, dist, CAST(rank AS INT) AS rank
       FROM rk WHERE rank <= 5 ORDER BY query_id, rank"""),

    // residual IVF-PQ replay: coarse chain → per-corpus-vector
    // residual lists (DOUBLE) → the PQ chain fit OVER residuals →
    // per-(query, probed cell) residual LUTs → cell-matched ADC.
    "q113_ivfpq_residual" ->
      (s"""$ivfPqResidualRkSql
       SELECT query_id, corpus_id, dist, CAST(rank AS INT) AS rank
       FROM rk WHERE rank <= 5 ORDER BY query_id, rank"""),

    // refine replay: the q113 chain widened to the ADC top-15, then
    // the q37 exact-cosine form over candidate pairs only, re-ranked
    "q139_ivfpq_refine" ->
      (s"""$ivfPqResidualRkSql,
       cand AS (SELECT query_id, corpus_id FROM rk WHERE rank <= 15),
       ex AS (
         SELECT c.query_id, c.corpus_id,
                list_sum(list_transform(range(1, 65),
                  i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)) /
                (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE))) *
                 sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE)))) AS cosine
         FROM cand c JOIN embeddings a ON a.vec_id = c.query_id
              JOIN embeddings b ON b.vec_id = c.corpus_id),
       rk2 AS (
         SELECT query_id, corpus_id, cosine,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY cosine DESC, corpus_id ASC) AS rank
         FROM ex)
       SELECT query_id, corpus_id, CAST(rank AS INT) AS rank,
              round(cosine + 1e-9, 6) + 0.0 AS cosine
       FROM rk2 WHERE rank <= 5 ORDER BY query_id, rank"""),

    // IVF-PQ replay: the q40 coarse chain (cf/pr/ca) + the q103 PQ
    // chain under the pq_ prefix + the q104 LUT/ADC restricted to
    // candidates from probed cells.
    // NN-Descent replay: seeded independent-pairing init, then both
    // local-join rounds as materialized CTEs (nndChainCtes — the
    // Lloyd/BPE iterative-oracle pattern; shared with q149 so the
    // built graph cannot drift between the two gates)
    "q148_knn_graph" ->
      s"""WITH ${nndChainCtes(5, 64)}
       SELECT a AS vec_id, c AS nbr, rank, sim + 0.0 AS sim
       FROM nn2 ORDER BY vec_id, rank""",

    // graph-delete replay: the q148 chain, then tombstone semantics —
    // drop removed nodes' rows and dangling edges, recompact ranks in
    // the engine's (sim desc, id asc) tie order
    "q165_graph_delete" ->
      s"""WITH ${nndChainCtes(5, 64)},
       kept AS (SELECT a, c, sim FROM nn2
                WHERE a % 13 <> 0 AND c % 13 <> 0)
       SELECT a AS vec_id, c AS nbr,
              CAST(row_number() OVER (PARTITION BY a
                ORDER BY sim DESC, c ASC) AS INT) AS rank,
              sim + 0.0 AS sim
       FROM kept ORDER BY vec_id, rank""",

    // compaction replay: the q148 chain, the q165 tombstone filter,
    // then ONE more generalized NN-Descent round (input = the deleted
    // graph, pivot universe = survivors) — build and refresh share
    // the iteration template, so the round body cannot drift
    "q168_graph_compact" ->
      (s"""WITH ${nndChainCtes(5, 64)},
       kept AS MATERIALIZED (
         SELECT a, c, sim FROM nn2 WHERE a % 13 <> 0 AND c % 13 <> 0),
       surv AS (SELECT vec_id FROM embeddings WHERE vec_id % 13 <> 0),
       ${nndIterSql(7, 5, 64, in = "kept", universe = "surv")}
       SELECT a AS vec_id, c AS nbr, rank, sim + 0.0 AS sim
       FROM nn8 ORDER BY vec_id, rank"""),

    // graph-search replay: the q148 graph chain verbatim, then the
    // hash-ranked entry points and all beam rounds (expand along nn2
    // edges ∪ keep the frontier, exact cosine, rounded-rank ≤ beam),
    // final top-k from the last frontier
    "q149_graph_search" -> graphSearchOracleSql,

    // q150 = q149 over the stored graph; the build is deterministic,
    // so the at-rest round trip must land on the same hash.
    "q150_graph_amortized" -> graphSearchOracleSql,

    // SQ8 replay: per-dim min/max fit, integer encode (round-half-up
    // on positive values agrees across engines; +1e-9 nudges binary
    // .5 boundaries consistently), double-arithmetic float-storage
    // decode, q37 ranking over the reconstruction
    "q160_sq8_topk" ->
      s"""WITH prm AS (
         SELECT i AS d, min(CAST(e.embedding[i] AS DOUBLE)) AS mn,
                max(CAST(e.embedding[i] AS DOUBLE)) AS mx
         FROM embeddings e, (SELECT unnest(generate_series(1, 64)) AS i)
         GROUP BY 1),
       pa AS (SELECT list(mn ORDER BY d) AS mns, list(mx ORDER BY d) AS mxs
              FROM prm),
       cd AS (
         SELECT e.vec_id,
                list_transform(generate_series(1, 64),
                  i -> CAST(CASE WHEN mxs[i] > mns[i]
                    THEN least(255.0, greatest(0.0,
                      round((CAST(e.embedding[i] AS DOUBLE) - mns[i])
                            / (mxs[i] - mns[i]) * 255.0 + 1e-9)))
                    ELSE 0.0 END AS INT)) AS codes
         FROM embeddings e, pa),
       dec AS (
         SELECT vec_id,
                list_transform(generate_series(1, 64),
                  i -> CAST(mns[i] + CAST(codes[i] AS DOUBLE) / 255.0
                            * (mxs[i] - mns[i]) AS REAL)) AS demb
         FROM cd, pa),
       scored AS (
         SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
                list_sum(list_transform(range(1, 65),
                  i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.demb[i] AS DOUBLE))) /
                (sqrt(list_sum(list_transform(q.embedding, x -> x::DOUBLE * x::DOUBLE))) *
                 sqrt(list_sum(list_transform(c.demb, x -> x::DOUBLE * x::DOUBLE)))) AS cosine
         FROM embeddings q JOIN dec c ON q.vec_id <> c.vec_id
         WHERE q.vec_id < 20),
       ranked AS (
         SELECT query_id, corpus_id, cosine,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY cosine DESC, corpus_id ASC) AS rank
         FROM scored)
       SELECT query_id, corpus_id, CAST(rank AS INT) AS rank,
              round(cosine + 1e-9, 6) + 0.0 AS cosine
       FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""",

    // graph-upsert replay: the shared search chain (gsr = each new
    // vector's top-k), reverse offers re-ranked per affected node,
    // untouched nn2 rows verbatim, new nodes' rows from gsr
    "q157_graph_upsert" ->
      s"""WITH ${graphSearchCtes(k = 5, dim = 64, beam = 8, rounds = 3,
          entries = 4)},
       rev AS (SELECT corpus_id AS a, query_id AS c, sim FROM gsr),
       aff AS (SELECT DISTINCT a FROM rev),
       rer AS (
         SELECT a, c, sim,
                CAST(row_number() OVER (PARTITION BY a
                  ORDER BY round(sim + 1e-9, 6) DESC, c ASC) AS INT) AS rank
         FROM (SELECT n.a, n.c, n.sim FROM nn2 n JOIN aff USING (a)
               UNION ALL SELECT a, c, sim FROM rev)),
       upd AS (
         SELECT a AS vec_id, c AS nbr, rank, sim FROM rer WHERE rank <= 5
         UNION ALL
         SELECT n.a AS vec_id, n.c AS nbr, n.rank, n.sim FROM nn2 n
         WHERE n.a NOT IN (SELECT a FROM aff)
         UNION ALL
         SELECT query_id AS vec_id, corpus_id AS nbr, rank, sim FROM gsr)
       SELECT vec_id, nbr, rank, sim + 0.0 AS sim FROM upd
       ORDER BY vec_id, rank""",

    // graph-semdedup replay: the q148 graph chain, edges at
    // grid-rounded cosine >= 0.4, the q92 recursive min-label
    // closure, LEFT join back to the corpus (singletons keep)
    "q156_graph_semdedup" ->
      s"""WITH RECURSIVE ${nndChainCtes(5, 64)},
       gedges AS (
         SELECT DISTINCT least(a, c) AS id_a, greatest(a, c) AS id_b
         FROM nn2 WHERE sim >= 0.4 AND a <> c),
       edges AS (
         SELECT id_a AS src, id_b AS dst FROM gedges
         UNION
         SELECT id_b AS src, id_a AS dst FROM gedges),
       nodes AS (SELECT DISTINCT src AS id FROM edges),
       reach(id, lab) AS (
         SELECT id, id FROM nodes
         UNION
         SELECT e.src, r.lab FROM edges e JOIN reach r ON r.id = e.dst),
       comp AS (SELECT id, min(lab) AS component FROM reach GROUP BY 1)
       SELECT e.vec_id, coalesce(c.component, e.vec_id) AS component,
              coalesce(c.component, e.vec_id) = e.vec_id AS kept
       FROM embeddings e LEFT JOIN comp c ON c.id = e.vec_id
       ORDER BY e.vec_id""",

    "q110_ivfpq_topk" ->
      (s"""WITH ${ivfCoreCtes(nCells = 8, iters = 10, nProbe = 3, dim = 64, queryBound = 20)},
       ${pqCoreCtes("pq_")},
       lut AS MATERIALIZED (
         SELECT q.vec_id AS query_id, c.sub, c.code,
                ((${pqSelfSql("c")}) - 2.0*(${pqDotSql("q", "c")})
                  + (${pqQSelfSql("q", "c")})) AS d
         FROM embeddings q CROSS JOIN pq_fl c WHERE q.vec_id < 20),
       cand AS (SELECT pr.query_id, ca.corpus_id
                FROM pr JOIN ca ON ca.cell = pr.cell
                WHERE pr.query_id <> ca.corpus_id),
       adc AS (
         SELECT cand.query_id, cand.corpus_id,
                round(sum(l.d) + 1e-9, 6) + 0.0 AS dist
         FROM cand
         JOIN pq_codes co ON co.vec_id = cand.corpus_id
         JOIN lut l ON l.query_id = cand.query_id
                   AND l.sub = co.sub AND l.code = co.code
         GROUP BY 1, 2),
       rk AS (
         SELECT query_id, corpus_id, dist,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY dist ASC, corpus_id ASC) AS rank
         FROM adc)
       SELECT query_id, corpus_id, dist, CAST(rank AS INT) AS rank
       FROM rk WHERE rank <= 5 ORDER BY query_id, rank"""),

    // auto-mix replay: the q101 mixture machinery with the domain
    // key, threshold quantization on the rounded rate, and the
    // seed-13 Bernoulli filter + survivor aggregation.
    "q105_auto_mix" ->
      (s"""WITH tk AS ($toksSql), d AS (
            SELECT doc_id, doc_id % 6 AS domain, len(toks) AS toks FROM tk
          ), agg AS (
            SELECT domain, CAST(sum(toks) AS BIGINT) AS toks FROM d GROUP BY 1
          ), tot AS (SELECT sum(toks) * 1.0 AS total FROM agg),
          p AS (
            SELECT a.domain, a.toks, pow(a.toks / t.total, 0.25) AS pa
            FROM agg a, tot t
          ), z AS (SELECT sum(pa) AS z FROM p),
          thr AS (
            SELECT p.domain,
                   CASE WHEN r.rate >= 1.0 THEN NULL
                        ELSE lpad(lower(hex(CAST(floor(r.rate * 4096 + 1e-9)
                               AS BIGINT))), 3, '0') END AS threshold
            FROM p, z, LATERAL (
              SELECT round(least(1.0,
                       CAST(round(round(p.pa / z.z + 1e-9, 6) * 5000 + 1e-6)
                            AS BIGINT) / (p.toks * 1.0)) + 1e-9, 6) AS rate) r
          ), kept AS (
            SELECT d.* FROM d JOIN thr ON d.domain = thr.domain
            WHERE thr.threshold IS NULL
               OR md5('13#' || CAST(d.doc_id AS VARCHAR)) < thr.threshold
          )
          SELECT domain, count(*) AS n_kept,
                 CAST(sum(toks) AS BIGINT) AS toks_kept,
                 min(doc_id) AS first_id, CAST(sum(doc_id) AS BIGINT) AS sum_ids
          FROM kept GROUP BY 1 ORDER BY 1"""),

    // shard replay: one window at oracle scale (the engine side
    // stitches range partitions); the order_md5 recomputes the exact
    // within-shard document order.
    "q109_unigram_ppl" ->
      (s"""WITH tk AS ($toksSql),
         t AS (SELECT doc_id, unnest(toks) AS tk FROM tk),
         f AS (SELECT tk, count(*) AS tf FROM t GROUP BY 1),
         tot AS (SELECT CAST(sum(tf) AS BIGINT) AS n_total,
                        count(*) AS vocab FROM f),
         s AS (SELECT doc_id,
                      -ln((tf + 1.0) / CAST(n_total + vocab AS DOUBLE)) AS nll
               FROM t JOIN f USING (tk) CROSS JOIN tot)
         SELECT doc_id, count(*) AS n_tokens,
                round(avg(nll) + 1e-7, 4) + 0.0 AS xent
         FROM s GROUP BY 1 ORDER BY 1"""),

    "q115_gopher_rules" ->
      (s"""WITH m AS (${gopherMetricsSql("SELECT doc_id, text FROM documents")}),
         f AS (
           SELECT doc_id,
                  (n >= 20 AND n <= 100000) AS ok_words,
                  (mean_len >= 3.0 AND mean_len <= 10.0) AS ok_word_len,
                  (sym_ratio <= 0.1) AS ok_symbols,
                  (alpha_frac >= 0.8) AS ok_alpha,
                  (stop_cnt >= 1) AS ok_stop
           FROM m)
         SELECT count(*) AS n_docs,
                CAST(sum(CASE WHEN NOT ok_words THEN 1 ELSE 0 END) AS BIGINT) AS fail_words,
                CAST(sum(CASE WHEN NOT ok_word_len THEN 1 ELSE 0 END) AS BIGINT) AS fail_word_len,
                CAST(sum(CASE WHEN NOT ok_symbols THEN 1 ELSE 0 END) AS BIGINT) AS fail_symbols,
                CAST(sum(CASE WHEN NOT ok_alpha THEN 1 ELSE 0 END) AS BIGINT) AS fail_alpha,
                CAST(sum(CASE WHEN NOT ok_stop THEN 1 ELSE 0 END) AS BIGINT) AS fail_stop,
                CAST(sum(CASE WHEN ok_words AND ok_word_len AND ok_symbols
                               AND ok_alpha AND ok_stop THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
                CAST(sum(CASE WHEN ok_words AND ok_word_len AND ok_symbols
                               AND ok_alpha AND ok_stop THEN doc_id END) AS BIGINT) AS sum_pass_ids
         FROM f"""),

    // Gopher-in-chain replay: the q65 curation core over the
    // shape-filtered source (the metrics subquery doubles as the
    // chain's prefilter), plus the q115-style per-rule report over
    // the raw input — one row pairing drop counts with survivors.
    "q116_gopher_curation" -> {
      val filteredSrc =
        s"""SELECT d.doc_id, d.text FROM documents d WHERE d.doc_id IN (
              SELECT doc_id
              FROM (${gopherMetricsSql("SELECT doc_id, text FROM documents")})
              WHERE $gopherPassSql)"""
      s"""${curationCoreSql(filteredSrc)},
          gm AS (${gopherMetricsSql("SELECT doc_id, text FROM documents")}),
          gf AS (
            SELECT doc_id,
                   (n >= 20 AND n <= 100000) AS ok_words,
                   (mean_len >= 3.0 AND mean_len <= 10.0) AS ok_word_len,
                   (sym_ratio <= 0.1) AS ok_symbols,
                   (alpha_frac >= 0.8) AS ok_alpha,
                   (stop_cnt >= 1) AS ok_stop
            FROM gm),
          rep AS (
            SELECT count(*) AS n_docs,
                   CAST(sum(CASE WHEN NOT ok_words THEN 1 ELSE 0 END) AS BIGINT) AS fail_words,
                   CAST(sum(CASE WHEN NOT ok_word_len THEN 1 ELSE 0 END) AS BIGINT) AS fail_word_len,
                   CAST(sum(CASE WHEN NOT ok_symbols THEN 1 ELSE 0 END) AS BIGINT) AS fail_symbols,
                   CAST(sum(CASE WHEN NOT ok_alpha THEN 1 ELSE 0 END) AS BIGINT) AS fail_alpha,
                   CAST(sum(CASE WHEN NOT ok_stop THEN 1 ELSE 0 END) AS BIGINT) AS fail_stop,
                   CAST(sum(CASE WHEN ok_words AND ok_word_len AND ok_symbols
                                  AND ok_alpha AND ok_stop THEN 1 ELSE 0 END) AS BIGINT) AS n_shape_pass
            FROM gf),
          surv AS (
            SELECT count(*) AS n_kept,
                   CAST(sum(doc_id) AS BIGINT) AS sum_kept_ids,
                   CAST(sum(len(toks)) AS BIGINT) AS kept_ws_tokens
            FROM quality WHERE lang = 'en' AND q >= 0.3)
          SELECT rep.*, surv.* FROM rep, surv"""
    },

    "q114_snapshot_diff" ->
      """WITH b AS (SELECT doc_id, md5(text) AS fp FROM documents),
         a0 AS (SELECT doc_id,
                       CASE WHEN doc_id % 5 = 0 THEN md5(text || ' [rev2]')
                            ELSE md5(text) END AS fp
                FROM documents WHERE doc_id % 7 <> 0),
         a AS (SELECT * FROM a0
               UNION ALL
               SELECT doc_id + 1000000 AS doc_id, md5(text) AS fp
               FROM documents WHERE doc_id % 11 = 0),
         d AS (SELECT doc_id,
                      CASE WHEN b.fp IS NULL THEN 'added'
                           WHEN a.fp IS NULL THEN 'removed'
                           WHEN a.fp = b.fp THEN 'unchanged'
                           ELSE 'changed' END AS status
               FROM b FULL OUTER JOIN a USING (doc_id))
         SELECT status, count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS sum_ids,
                min(doc_id) AS min_id, max(doc_id) AS max_id
         FROM d GROUP BY 1 ORDER BY 1""",

    "q111_bigram_ppl" ->
      (s"""WITH tk AS ($toksSql),
         pairs AS (
           SELECT doc_id, unnest(list_transform(
                    generate_series(1, len(toks) - 1),
                    i -> {'w1': toks[i], 'w2': toks[i + 1]})) AS b
           FROM tk WHERE len(toks) >= 2),
         pr AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM pairs),
         c12 AS (SELECT w1, w2, count(*) AS c12 FROM pr GROUP BY 1, 2),
         c1 AS (SELECT w1, count(*) AS c1 FROM pr GROUP BY 1),
         v AS (SELECT count(DISTINCT u.tk) AS vocab
               FROM (SELECT unnest(toks) AS tk FROM tk) u),
         s AS (SELECT doc_id,
                      -ln((c12 + 1.0) / CAST(c1 + vocab AS DOUBLE)) AS nll
               FROM pr JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v)
         SELECT doc_id, count(*) AS n_bigrams,
                round(avg(nll) + 1e-7, 4) + 0.0 AS xent2
         FROM s GROUP BY 1 ORDER BY 1"""),

    // interpolated Kneser–Ney bigram replay: bigram/left-context
    // counts, follower/predecessor type counts, the count-of-counts
    // discount scalar, and the interpolated probability in the same
    // association order as the Spark expression
    "q120_kneser_ney_ppl" ->
      (s"""WITH tk AS ($toksSql),
         pairs AS (
           SELECT doc_id, unnest(list_transform(
                    generate_series(1, len(toks) - 1),
                    i -> {'w1': toks[i], 'w2': toks[i + 1]})) AS b
           FROM tk WHERE len(toks) >= 2),
         pr AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM pairs),
         c12 AS (SELECT w1, w2, count(*) AS c12 FROM pr GROUP BY 1, 2),
         c1 AS (SELECT w1, count(*) AS c1 FROM pr GROUP BY 1),
         fol AS (SELECT w1, count(*) AS f FROM c12 GROUP BY 1),
         cont AS (SELECT w2, count(*) AS p FROM c12 GROUP BY 1),
         cc AS (SELECT count(*) AS n_types,
                       sum(CASE WHEN c12 = 1 THEN 1 ELSE 0 END) AS n1,
                       sum(CASE WHEN c12 = 2 THEN 1 ELSE 0 END) AS n2
                FROM c12),
         dd AS (SELECT CASE WHEN n1 + 2 * n2 > 0
                            THEN n1 / (n1 + 2.0 * n2) ELSE 0.5 END AS d,
                       n_types FROM cc),
         s AS (SELECT pr.doc_id,
                      -ln(greatest(c12 - dd.d, 0.0) / c1 +
                          (dd.d * fol.f / c1) *
                            (cont.p / CAST(dd.n_types AS DOUBLE))) AS nll
               FROM pr JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
                    JOIN fol USING (w1) JOIN cont USING (w2) CROSS JOIN dd)
         SELECT doc_id, count(*) AS n_bigrams,
                round(avg(nll) + 1e-7, 4) + 0.0 AS xent_kn
         FROM s GROUP BY 1 ORDER BY 1"""),

    // perplexity-filter replay: the q109 chain, 4dp-rounded scores,
    // quantile_cont(0.8) threshold (interpolation arithmetic matches
    // Spark percentile()), per-source survivor aggregates
    "q112_ppl_filter" ->
      (s"""WITH tk AS ($toksSql),
         t AS (SELECT doc_id, unnest(toks) AS tk FROM tk),
         f AS (SELECT tk, count(*) AS tf FROM t GROUP BY 1),
         tot AS (SELECT CAST(sum(tf) AS BIGINT) AS n_total,
                        count(*) AS vocab FROM f),
         s AS (SELECT doc_id,
                      -ln((tf + 1.0) / CAST(n_total + vocab AS DOUBLE)) AS nll
               FROM t JOIN f USING (tk) CROSS JOIN tot),
         sc AS (SELECT doc_id, count(*) AS n_tokens,
                       round(avg(nll) + 1e-7, 4) + 0.0 AS x4
                FROM s GROUP BY 1),
         thr AS (SELECT quantile_cont(x4, 0.8) AS thr FROM sc),
         kept AS (SELECT sc.* FROM sc CROSS JOIN thr WHERE sc.x4 <= thr.thr)
         SELECT d.source, count(*) AS n_kept,
                CAST(sum(k.n_tokens) AS BIGINT) AS tokens_kept,
                round(avg(k.x4) + 1e-7, 4) + 0.0 AS avg_xent,
                min(k.doc_id) AS first_id
         FROM kept k JOIN documents d ON d.doc_id = k.doc_id
         GROUP BY 1 ORDER BY 1"""),

    "q102_shard_manifest" ->
      """WITH r AS (
           SELECT doc_id,
                  row_number() OVER (
                    ORDER BY md5('9#' || CAST(doc_id AS VARCHAR)) ASC,
                             doc_id ASC) - 1 AS rank
           FROM documents
         ), sh AS (
           SELECT doc_id, rank, rank // 64 AS shard, rank % 64 AS pos
           FROM r
         )
         SELECT shard, count(*) AS n_docs, min(rank) AS first_rank,
                md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY pos))
                  AS order_md5
         FROM sh GROUP BY 1 ORDER BY 1""",

    // mixture replay: same key-grain aggregation and normalizers;
    // weights round 1e-9/6dp before the budget quantization so pow
    // ulp differences between engines can't move a budget.
    "q101_temp_mixture" ->
      (s"""WITH tk AS ($toksSql), d AS (
            SELECT source, len(toks) AS toks FROM tk
          ), agg AS (
            SELECT source, CAST(sum(toks) AS BIGINT) AS toks FROM d GROUP BY 1
          ), tot AS (
            SELECT sum(toks) * 1.0 AS total FROM agg
          ), p AS (
            SELECT a.source, a.toks, a.toks / t.total AS share,
                   pow(a.toks / t.total, 0.5) AS pa
            FROM agg a, tot t
          ), z AS (SELECT sum(pa) AS z FROM p)
          SELECT p.source, p.toks,
                 round(p.share + 1e-9, 6) + 0.0 AS share,
                 round(p.pa / z.z + 1e-9, 6) + 0.0 AS weight,
                 CAST(round(round(p.pa / z.z + 1e-9, 6) * 50000 + 1e-6)
                      AS BIGINT) AS budget_toks,
                 round(least(1.0,
                       CAST(round(round(p.pa / z.z + 1e-9, 6) * 50000 + 1e-6)
                            AS BIGINT) / (p.toks * 1.0)) + 1e-9, 6) + 0.0 AS rate
          FROM p, z ORDER BY source"""),

    // BM25 replay: same dl/avgdl/tf/df relations, the Lucene idf,
    // score arithmetic written in the engine's evaluation order
    // (literals kept as (1.2 + 1.0)-style sums so both engines round
    // them identically), rounded-score ranking with doc tie-breaks.
    "q100_bm25_topk" ->
      (s"""WITH tk AS ($toksSql), ex AS (
            SELECT doc_id, unnest(toks) AS tk FROM tk
          ), dl AS (
            SELECT doc_id, count(*) AS dl FROM ex GROUP BY 1
          ), stats AS (
            SELECT (SELECT count(*) FROM documents) * 1.0 AS n,
                   (SELECT avg(dl) FROM dl) AS avgdl
          ), q(query_id, term) AS (
            VALUES (1, 'spark'), (1, 'join'), (2, 'window'), (2, 'merge'),
                   (2, 'scan'), (3, 'vector'), (3, 'hash')
          ), tf AS (
            SELECT doc_id, tk, count(*) AS tf FROM ex
            WHERE tk IN (SELECT DISTINCT term FROM q) GROUP BY 1, 2
          ), dfr AS (
            SELECT tk, count(*) AS df FROM tf GROUP BY 1
          ), w AS (
            SELECT tf.doc_id, tf.tk,
                   ln(1.0 + (s.n - dfr.df + 0.5) / (dfr.df + 0.5))
                     * (tf.tf * (1.2 + 1.0))
                     / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl)) AS w
            FROM tf JOIN dfr ON tf.tk = dfr.tk
                    JOIN dl ON tf.doc_id = dl.doc_id, stats s
          ), sc AS (
            SELECT q.query_id, w.doc_id,
                   round(sum(w.w) + 1e-9, 6) + 0.0 AS score
            FROM w JOIN q ON w.tk = q.term GROUP BY 1, 2
          ), rk AS (
            SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY score DESC, doc_id ASC) AS rank
            FROM sc
          )
          SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score,
                 CAST(rank AS INT) AS rank
          FROM rk WHERE rank <= 10 ORDER BY query_id, rank"""),

    // tf-idf replay: same tf/df aggregations, ln scores rounded with
    // the epsilon-before-round convention, same tie-broken ranking.
    "q96_tfidf_topk" ->
      (s"""WITH tk AS ($toksSql), ex AS (
            SELECT doc_id, unnest(toks) AS tk FROM tk
          ), tf AS (
            SELECT doc_id, tk, count(*) AS tf FROM ex GROUP BY 1, 2
          ), dfq AS (
            SELECT tk, count(*) AS df FROM tf GROUP BY 1
          ), sc AS (
            SELECT tf.doc_id, tf.tk, tf.tf, dfq.df,
                   round(tf.tf * ln((SELECT count(*) FROM documents) * 1.0
                         / dfq.df) + 1e-9, 6) + 0.0 AS tfidf
            FROM tf JOIN dfq ON tf.tk = dfq.tk
          ), rk AS (
            SELECT *, row_number() OVER (PARTITION BY doc_id
                      ORDER BY tfidf DESC, tk ASC) AS rank
            FROM sc
          )
          SELECT doc_id, tk, tf, df, tfidf, CAST(rank AS INT) AS rank
          FROM rk WHERE rank <= 5 ORDER BY doc_id, rank"""),

    // repeated-span replay: full 5-token windows, count-distinct-docs
    // duplicate test, per-doc coverage running max, reassembly in
    // token order. Token stream and slicing match the engine's
    // tokens() normalization exactly.
    "q95_repeated_spans" ->
      """WITH toks AS (
           SELECT doc_id,
                  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                              x -> x <> '') AS ts
           FROM documents
         ), tk AS (
           SELECT doc_id, ts, unnest(ts) AS tk,
                  generate_subscripts(ts, 1) - 1 AS pos
           FROM toks
         ), gram AS (
           SELECT doc_id, pos, tk,
                  CASE WHEN pos + 5 <= len(ts)
                       THEN md5(array_to_string(ts[pos+1:pos+5], ' ')) END AS h
           FROM tk
         ), dup AS (
           SELECT h FROM gram WHERE h IS NOT NULL
           GROUP BY h HAVING count(DISTINCT doc_id) >= 2
         ), st AS (
           SELECT doc_id, pos FROM gram WHERE h IN (SELECT h FROM dup)
         ), cov AS (
           SELECT g.doc_id, g.pos, g.tk,
                  max(s.pos) OVER (PARTITION BY g.doc_id ORDER BY g.pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ls
           FROM gram g LEFT JOIN st s ON s.doc_id = g.doc_id AND s.pos = g.pos
         ), keep AS (
           SELECT doc_id, pos, tk FROM cov WHERE ls IS NULL OR pos > ls + 4
         ), outp AS (
           SELECT doc_id, string_agg(tk, ' ' ORDER BY pos) AS clean,
                  count(*) AS n_kept
           FROM keep GROUP BY 1
         ), tot AS (
           SELECT doc_id, count(*) AS n_tot FROM gram GROUP BY 1
         )
         SELECT d.doc_id, md5(coalesce(o.clean, '')) AS clean_md5,
                CAST(coalesce(o.n_kept, 0) AS BIGINT) AS n_tokens,
                CAST(coalesce(t.n_tot, 0) - coalesce(o.n_kept, 0) AS BIGINT)
                  AS n_removed
         FROM documents d
         LEFT JOIN outp o USING (doc_id) LEFT JOIN tot t USING (doc_id)
         ORDER BY doc_id""",

    "q36_simhash" -> {
      val bitTerms = (0 until 32).map(i =>
        s"""(CASE WHEN sum(CASE WHEN substr(h, ${i + 1}, 1) < '8'
            THEN 1 ELSE -1 END) > 0
            THEN (CAST(1 AS BIGINT) << $i) ELSE CAST(0 AS BIGINT) END)""")
        .mkString(" + ")
      s"""WITH tk AS ($toksSql), ex AS (
            SELECT doc_id, md5(unnest(toks)) AS h FROM tk
          )
          SELECT doc_id, CAST($bitTerms AS BIGINT) AS simhash
          FROM ex GROUP BY doc_id"""
    },

    // q57 oracle replays the BANDED plan itself (the q39 baked-
    // hyperplane machinery: identical splitmix64 Rademacher chains →
    // identical buckets, candidates, cosines) rather than the
    // all-pairs answer, so a future testdata regeneration that drops
    // banded recall below 100% cannot silently kill the catalog query
    // (the q26/q27-r6 failure class). The banded ≡ exact-all-pairs
    // property on the CURRENT fixtures — 100% recall at all three
    // SFs — is gated separately in SimilaritySpec.
    "q57_embed_dup" -> {
      val dim = 64; val bpb = 2; val nb = 16
      val buckets = (0 until nb).map(b => bandBucketSql("e", b, bpb, dim)).mkString(", ")
      s"""WITH bk AS (SELECT e.vec_id, unnest([$buckets]) AS bucket
            FROM embeddings e),
          cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
                   FROM bk a JOIN bk b USING (bucket)
                   WHERE a.vec_id < b.vec_id),
          nrm AS (SELECT e.vec_id, sqrt(${pairDotSql("e", "e", dim)}) AS nrm
                  FROM embeddings e),
          scored AS (SELECT cand.id_a, cand.id_b,
                            (${pairDotSql("ea", "eb", dim)}) / (na.nrm * nb2.nrm) AS cosine
                     FROM cand
                     JOIN embeddings ea ON ea.vec_id = cand.id_a
                     JOIN embeddings eb ON eb.vec_id = cand.id_b
                     JOIN nrm na ON na.vec_id = cand.id_a
                     JOIN nrm nb2 ON nb2.vec_id = cand.id_b)
          SELECT id_a, id_b, round(cosine + 1e-9, 6) + 0.0 AS cosine
          FROM scored WHERE cosine >= 0.4"""
    },

    "q37_cosine_topk" ->
      """WITH scored AS (
           SELECT a.vec_id AS query_id, b.vec_id AS corpus_id,
                  list_sum(list_transform(range(1, 65),
                    i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)) /
                  (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE))) *
                   sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE)))) AS cosine
           FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
           WHERE a.vec_id < 10
         ), ranked AS (
           SELECT query_id, corpus_id, cosine,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, corpus_id ASC) AS rank
           FROM scored
         ) SELECT query_id, corpus_id, CAST(rank AS INT) AS rank,
                  round(cosine + 1e-9, 6) + 0.0 AS cosine
           FROM ranked WHERE rank <= 5""",

    "q38_knn_label" ->
      """WITH scored AS (
           SELECT a.vec_id AS query_id, b.vec_id AS corpus_id, b.label AS n_label,
                  list_sum(list_transform(range(1, 65),
                    i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)) /
                  (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE))) *
                   sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE)))) AS cosine
           FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
           WHERE a.vec_id < 200
         ), ranked AS (
           SELECT query_id, n_label,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, corpus_id ASC) AS rank
           FROM scored
         ), votes AS (
           SELECT query_id, n_label, count(*) AS v
           FROM ranked WHERE rank <= 5 GROUP BY 1, 2
         ), pred AS (
           SELECT query_id AS vec_id, n_label AS predicted,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY v DESC, n_label ASC) AS rn
           FROM votes
         ) SELECT e.label, count(*) AS n,
                  CAST(coalesce(sum(CASE WHEN p.predicted = e.label THEN 1 END), 0) AS BIGINT) AS n_correct
           FROM pred p JOIN embeddings e ON p.vec_id = e.vec_id
           WHERE p.rn = 1
           GROUP BY 1""",
  )

  /** q141 runs the q129 semantics with the NB model AT REST — the
    * apply-only scores must reproduce the inline fit exactly, so the
    * oracle IS q129's (the q128-vs-q123 shared-oracle pattern: one
    * replay gates both the semantics and the store/re-read round
    * trip). */
  val oracleSql: Map[String, String] = oracleSql0 +
    ("q141_quality_cluster_amortized" ->
      oracleSql0("q129_quality_cluster_curation")) +
    // q143 runs the q131 semantics with the trained-BPE merge table AT
    // REST — the fit is deterministic, so the stored artifact must
    // reproduce the inline training exactly (same shared-oracle
    // round-trip argument as q141/q128)
    ("q143_real_budget_amortized" ->
      oracleSql0("q131_real_token_budget")) +
    // q144 runs the q136 semantics with the reference LM at rest —
    // the deterministic fit makes the stored relation the fit
    ("q144_ccnet_amortized" ->
      oracleSql0("q136_ccnet_buckets")) +
    // q171 runs the q169 semantics with the COMPACTED generation at
    // rest — delete→compact is deterministic, so the bucketed-table
    // rewrite must reproduce the inline chain exactly
    ("q171_winnow_compact_amortized" ->
      oracleSql0("q169_winnow_compact")) +
    ("q172_neardup_compact_amortized" ->
      oracleSql0("q170_neardup_compact"))
}
