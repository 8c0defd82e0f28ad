package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sources.CommitLog

/** MULTI-PROCESS commit-storm ritual — the cross-JVM completion of
  * LogStoreContractSpec's N-writer property (which races writers as
  * THREADS inside one JVM, so it can never catch a CAS primitive that
  * only synchronizes in-process, e.g. anything leaning on JVM locks or
  * a shared client cache). Driven by `tools/multiproc_storm.sh`, which
  * launches each role below as its own `java` process (own
  * SparkSession, own Hadoop FileSystem instance) against ONE table:
  *
  *  - `setup <lake>`: init a partitioned table;
  *  - `writer <lake> <id> <n>`: n appends of one tagged row each —
  *    the conflict-free verb, but every commit still races the CAS;
  *  - `churner <lake> <id> <n>`: n keyed upserts to a writer-private
  *    KEY but a SHARED partition — forces commitRebase's
  *    intervening-commit path (not just version-number races);
  *  - `merger <lake>`: create a branch, append to it, mergeBranch into
  *    the advancing main under the fence — the flagship verb racing
  *    real foreign processes;
  *  - `verify <lake> <writers> <perWriter> <churners> <perChurner>`:
  *    replay the log to the model — contiguous version numbers
  *    (every CAS slot won exactly once), every writer's rows present
  *    exactly once, every churner's key at its LAST value, the merged
  *    branch rows present, zero duplicates;
  *  - `merger_held` / `violator` / `verify_violation`: the
  *    FENCE-VIOLATION leg — a merge held between adoption and sync
  *    (`GRAFT_MERGE_SYNC_HOLD_MS`) races a stale-code writer that
  *    commits through the live fence from another JVM; the merge's
  *    sync CAS must fail loudly with re-fork guidance, main's
  *    adoption must stand, the branch must stay fenced.
  *
  * The exit code is the gate: non-zero on any lost write, duplicate,
  * gap, or parse failure. */
object MultiProcStorm {
  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val role = args(0)
    val lake = args(1)
    val spark = session()
    import spark.implicits._
    role match {
      case "setup" =>
        spark.range(0, 10)
          .select($"id".as("k"), lit(0L).as("v"),
            concat(lit("p"), $"id" % 2).as("pd"))
          .write.partitionBy("pd").parquet(lake)
        CommitLog.init(spark, lake)
        println("[storm] setup done")

      case "writer" =>
        val id = args(2).toInt; val n = args(3).toInt
        (0 until n).foreach { i =>
          CommitLog.append(spark,
            Seq((10000L * id + i, id.toLong, s"p${i % 2}"))
              .toDF("k", "v", "pd"), lake)
        }
        println(s"[storm] writer $id committed $n appends")

      case "churner" =>
        val id = args(2).toInt; val n = args(3).toInt
        (1 to n).foreach { i =>
          // two churners share partition p0, so a concurrent rewrite is
          // a TRUE upsert conflict — loud by design (the TYPED
          // CommitLog.WriteConflict), with "re-run against the current
          // snapshot" as the documented recovery. The ritual implements
          // exactly that recovery: the storm's point is that the
          // conflict is DETECTED (never silently merged) and the re-run
          // converges.
          var attempt = 0
          var done = false
          while (!done) {
            try {
              CommitLog.upsert(spark,
                Seq((500L + id, i.toLong, "p0")).toDF("k", "v", "pd"),
                lake, Seq("k"), "pd")
              done = true
            } catch {
              case _: CommitLog.WriteConflict if attempt < 40 =>
                attempt += 1
                Thread.sleep(50L * (1 + attempt % 5))
              case _: CommitLog.CommitContention if attempt < 40 =>
                // the commit protocol exhausted ITS internal CAS retries
                // under heavy cross-process contention — not a conflict,
                // just contention; re-attempt like RebaseSpec's writers do
                attempt += 1
                Thread.sleep(50L * (1 + attempt % 5))
            }
          }
        }
        println(s"[storm] churner $id committed $n upserts")

      case "merger" =>
        CommitLog.createBranch(spark, lake, "storm")
        val t = CommitLog.branchTarget(lake, "storm")
        (0 until 3).foreach { i =>
          CommitLog.append(spark,
            Seq((90000L + i, 9L, s"p${i % 2}")).toDF("k", "v", "pd"), t)
        }
        // main is advancing under us the whole time: the rebase + adopt
        // pair must converge through the typed-retry loop and the fence
        val adopted = CommitLog.mergeBranch(spark, lake, "storm",
          maxRetries = 30)
        println(s"[storm] merged branch as main v${adopted.version}")

      case "merger_held" =>
        // THE FENCE-VIOLATION LEG's victim (round-15 verdict item 7): a
        // merge held open between its adoption and its sync commit
        // (GRAFT_MERGE_SYNC_HOLD_MS, exported by the storm script)
        // while the violator process lands a stale-code write through
        // the fence from ANOTHER JVM. The designed backstop is the sync
        // CAS: the EXPECTED outcome is its loud failure with the
        // re-fork guidance — exit 0 on exactly that, non-zero on a
        // silent success or any other error.
        CommitLog.createBranch(spark, lake, "violated")
        val t = CommitLog.branchTarget(lake, "violated")
        CommitLog.append(spark,
          Seq((91000L, 9L, "p0")).toDF("k", "v", "pd"), t)
        try {
          CommitLog.mergeBranch(spark, lake, "violated")
          System.err.println("[storm] VIOLATION LEG BROKEN: the merge " +
            "synced despite a through-fence write")
          spark.stop()
          sys.exit(1)
        } catch {
          case e: IllegalStateException
              if e.getMessage.contains("lost its CAS") &&
                e.getMessage.contains("re-fork") =>
            println("[storm] merger_held got the EXPECTED loud " +
              "sync-CAS failure with re-fork guidance")
        }

      case "violator" =>
        // stale-code writer simulation: a JVM whose commit path
        // predates assertUnfenced. Signal readiness (the script gates
        // the merge on it), wait for the adoption to land on main,
        // then commit through the LIVE fence via the bypass.
        val t = CommitLog.branchTarget(lake, "violated")
        new java.io.File(lake + ".violator_ready").createNewFile()
        val deadline = System.currentTimeMillis + 120000
        while (CommitLog.latest(spark, lake).forall(_.op != "fastForward")) {
          require(System.currentTimeMillis < deadline,
            "violator timed out waiting for the merge's adoption")
          Thread.sleep(25)
        }
        require(CommitLog.latest(spark, t)
          .exists(_.props.contains(CommitLog.FenceProp)),
          "violator: the branch must still be fenced at adoption time")
        CommitLog.commitStaleBypassingFence(spark, t, "storm.violator", "1")
        println("[storm] violator committed through the live fence")

      case "verify_violation" =>
        // main's adoption STANDS (the violation cost the branch, never
        // main); the branch stays fenced and stale-marked — exactly the
        // state the loud error described
        val mainHead = CommitLog.latest(spark, lake).get
        require(mainHead.op == "fastForward",
          s"adoption lost: main head op '${mainHead.op}'")
        require(CommitLog.read(spark, lake)
          .filter($"k" === 91000L).count() == 1L,
          "the adopted branch row is missing from main")
        val head = CommitLog.latest(spark,
          CommitLog.branchTarget(lake, "violated")).get
        require(head.props.contains(CommitLog.FenceProp),
          "a violated branch must stay fenced (stale-marked)")
        require(head.props.get("storm.violator").contains("1"),
          "the violator's through-fence commit is not the branch head")
        println("[storm] VIOLATION VERIFIED: adoption stands on main, " +
          "branch loudly stale-fenced")

      case "txn_setup" =>
        // VACUUM-UNDER-TRANSACTION leg: a (fact, state) family whose
        // writer and a PLAIN default-fence vacuum race from separate
        // JVMs. The round-16 fix under test: an in-flight writeAll
        // leg's version is invisible to familyPins until the manifest
        // CAS lands, so vacuum's age fence must cover young version
        // files on family participants — without it the vacuumer JVM
        // reclaims the leg mid-window and every family read breaks.
        val fact = s"$lake/fact"; val state = s"$lake/state"
        val seed = spark.range(0, 4)
          .select(($"id" + 100L).as("k"), lit(0L).as("v"),
            concat(lit("p"), $"id" % 2).as("pd"))
        seed.write.partitionBy("pd").parquet(fact)
        CommitLog.init(spark, fact)
        seed.write.partitionBy("pd").parquet(state)
        CommitLog.init(spark, state)
        graft.sources.LakeTxn.commit(spark, s"$lake/txn",
          Map(fact -> 1L, state -> 1L), batchId = Some(0L))
        println("[storm] txn_setup done")

      case "txn_writer" =>
        import graft.sources.LakeTxn
        val n = args(2).toInt
        val fact = s"$lake/fact"; val state = s"$lake/state"
        val txn = s"$lake/txn"
        (1 to n).foreach { b =>
          val batch = Seq(
            (20000L + b * 10L, b.toLong, "p0"),
            (20001L + b * 10L, b.toLong, "p1")).toDF("k", "v", "pd")
          val up = Seq((600L, b.toLong, "p0")).toDF("k", "v", "pd")
          LakeTxn.writeAll(spark, txn, Seq(
            LakeTxn.TxnAppend(fact, batch),
            LakeTxn.TxnUpsert(state, up, Seq("k"), "pd", Some("v"))),
            batchId = b.toLong)
          // family retention keeps old cuts from pinning everything
          // forever — dropping them is what EXPOSES older participant
          // versions to the racing vacuum
          if (b % 3 == 0) LakeTxn.vacuumManifests(spark, txn, keepLast = 2)
        }
        new java.io.File(lake + "/.writer_done").createNewFile()
        println(s"[storm] txn_writer committed $n transactions")

      case "txn_vacuumer" =>
        import graft.sources.LakeTxn
        val maxIters = args(2).toInt
        val fact = s"$lake/fact"; val state = s"$lake/state"
        val txn = s"$lake/txn"
        val done = new java.io.File(lake + "/.writer_done")
        var i = 0
        var extra = 0
        // keep hammering while the writer lives, plus a few passes after
        while (extra < 3 && i < maxIters) {
          if (done.exists()) extra += 1
          // the operator who has never heard of families: plain
          // keepLast=1, DEFAULT age fence
          CommitLog.vacuum(spark, fact, keepLast = 1)
          CommitLog.vacuum(spark, state, keepLast = 1)
          // and a family reader in the same loop: must NEVER break, no
          // matter where the writer is in its leg/manifest window
          val fc = LakeTxn.read(spark, txn, fact).count()
          val sc = LakeTxn.read(spark, txn, state).count()
          require(fc >= 4L && sc >= 4L,
            s"family read shrank below the seed: fact=$fc state=$sc")
          i += 1
          Thread.sleep(50)
        }
        println(s"[storm] txn_vacuumer ran $i vacuum+read passes " +
          "without a broken family read")

      case "txn_verify" =>
        import graft.sources.LakeTxn
        val n = args(2).toInt
        val fact = s"$lake/fact"; val state = s"$lake/state"
        val txn = s"$lake/txn"
        val factRows = LakeTxn.read(spark, txn, fact)
          .select($"k").as[Long].collect()
        require(factRows.length == 4 + 2 * n &&
          factRows.distinct.length == factRows.length,
          s"fact rows ${factRows.length} != model ${4 + 2 * n} or dups")
        val stateV = LakeTxn.read(spark, txn, state)
          .filter($"k" === 600L).select($"v").as[Long].collect().toSeq
        require(stateV == Seq(n.toLong),
          s"state key 600 at $stateV != last writer value $n")
        // every RETAINED cut still serves end to end (vacuumManifests
        // dropped the old ones; the racing vacuum must not have
        // reclaimed anything a kept manifest pins)
        val head = LakeTxn.latest(spark, txn).get
        val fs0 = new org.apache.hadoop.fs.Path(txn)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val kept = fs0.listStatus(new org.apache.hadoop.fs.Path(txn))
          .toSeq.map(_.getPath.getName)
          .filter(nm => nm.startsWith("t") && nm.endsWith(".json"))
          .map(nm => nm.stripPrefix("t").stripSuffix(".json").toLong)
        kept.foreach { t =>
          require(LakeTxn.readAt(spark, txn, t, fact).count() >= 4L,
            s"retained cut t$t unreadable on fact")
          require(LakeTxn.readAt(spark, txn, t, state).count() >= 4L,
            s"retained cut t$t unreadable on state")
        }
        require(head.txn == kept.max, "head is not the newest manifest")
        println(s"[storm] TXN-FAMILY VERIFIED: ${factRows.length} fact " +
          s"rows exact, state converged at v=$n, ${kept.size} retained " +
          "cuts all readable under the racing plain vacuum")

      case "verify" =>
        val writers = args(2).toInt; val perWriter = args(3).toInt
        val churners = args(4).toInt; val perChurner = args(5).toInt
        val f = new org.apache.hadoop.fs.Path(lake)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        // 1. every version file parses and the sequence has NO GAPS:
        // each CAS slot was won exactly once, by exactly one process
        val logDir = new org.apache.hadoop.fs.Path(lake, "_graft_log")
        val versions = f.listStatus(logDir).toSeq
          .map(_.getPath.getName)
          .filter(n => n.startsWith("v") && n.endsWith(".json"))
          .map(n => n.stripPrefix("v").stripSuffix(".json").toLong)
          .sorted
        require(versions == (1L to versions.size.toLong),
          s"version sequence has gaps/dups: $versions")
        // 2. the final state replays to the model
        val rows = CommitLog.read(spark, lake)
          .select($"k", $"v").as[(Long, Long)].collect()
        require(rows.length == rows.map(_._1).distinct.length,
          "duplicate keys — a lost rebase republished a row")
        val byKey = rows.toMap
        val expectWriters = for {
          id <- 1 to writers; i <- 0 until perWriter
        } yield 10000L * id + i
        expectWriters.foreach(k => require(byKey.contains(k),
          s"writer row $k lost"))
        (1 to churners).foreach { id =>
          require(byKey.get(500L + id).contains(perChurner.toLong),
            s"churner $id final value ${byKey.get(500L + id)} != " +
              s"$perChurner — an upsert was lost or replayed stale")
        }
        (0 until 3).foreach(i => require(byKey.contains(90000L + i),
          s"merged branch row ${90000 + i} lost"))
        val expectTotal = 10 + expectWriters.size + churners + 3
        require(rows.length == expectTotal,
          s"row count ${rows.length} != model $expectTotal")
        // 3. the branch survived its merge usable: fence cleared, fork
        // re-pointed at the adoption
        val head = CommitLog.latest(spark,
          CommitLog.branchTarget(lake, "storm")).get
        require(!head.props.contains(CommitLog.FenceProp),
          "merge left the branch fenced")
        println(s"[storm] VERIFIED: ${versions.size} contiguous " +
          s"versions, $expectTotal rows exact, merge clean")
    }
    spark.stop()
  }
}
