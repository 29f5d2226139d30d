package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Dev-only (round 14): the DRIVER-side cost of the manifest-log
  * parse at 100-TB file counts. 100 TB / 128 MB files ≈ 8·10⁵ live
  * files; a fold carries one `L` line and one `FS` (stats) line per
  * file, so the checkpoint is the dominant driver-side object — this
  * probe synthesizes folds at 10⁵ and 10⁶ file facts (realistic line
  * shapes, real `#end` terminator, 32-commit live tail) and measures
  * what every cold reader pays:
  *
  *  - cold `readLog` (checkpoint parse + tail) wall time,
  *  - warm re-read (the digest-keyed memo hit),
  *  - re-fold (`checkpoint` reads the old fold + tail, writes the
  *    superseding one) + prune,
  *  - approximate retained heap of the parsed state.
  *
  * Numbers land in BASELINE.md round-14; the honest bound they
  * document: the log layer is O(live files) driver memory and parse
  * time per COLD read (amortized by the memo for warm readers), the
  * same contract as Delta's driver-side snapshot state.
  *
  * The same sizes are then run for a stream-built catalog, whose
  * records carry one catalog entry per ingested object
  * (`CE <seq> <ts µs> <tsRaw> <source> <key>` lines in the fold,
  * `catent <ts µs> <tsRaw> <source> <key>` lines in a 32-record live
  * tail of 100 objects each, 100 objects per folded commit, 8 sources,
  * bronze-shaped keys). It measures the same cold and warm reads, one
  * narrow `rangeQuery` collect, the re-fold and the prune. The first
  * `rangeQuery` of a parsed log builds its per-source `ts` index; it
  * is timed apart, after a query that warms the session.
  *
  * Last, the same sizes as distribution file facts, the shape stream
  * ingest commits: 8 sources, one file per source per commit, each a
  * sized `D <seq> <bytes> <path>` line plus the commit's
  * `DN <seq> <rows> <source dir>` rows line in the fold, and a
  * 32-record tail of sized `dist` lines with `distrows` lines. It
  * measures the cold read, heap, planning one source's subscription
  * and answering its `count()` from the log (the files are never
  * written: neither touches them), planning a second source's and
  * then that subscription again at the same head, the re-fold and the
  * prune.
  *
  * Run: `sbt "runMain graft.LogScaleProbe [n1,n2,...]"` (default
  * 100000,1000000). */
object LogScaleProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def build(n: Int): graft.lake.Layout = {
      val root = Files.createTempDirectory(s"logscale-$n").toString
      val log = Paths.get(s"$root/catalog/_log")
      Files.createDirectories(log)
      val cp = log.resolve(f"$n%020d.checkpoint")
      val w = Files.newBufferedWriter(cp)
      var lines = 0L
      try {
        var i = 1
        while (i <= n) {
          // one live file per committed seq — the steady-state shape
          w.write(f"L $i%d source=ev/c$i%020d-part-00000-$i%08x.parquet\n")
          lines += 1
          i += 1
        }
        i = 1
        while (i <= n) {
          // one declared-stats fact per file (~the event_id/user_id
          // min-max + nulls JSON a TBLPROPERTIES table records)
          w.write(f"FS $i%d source=ev/c$i%020d-part-00000-$i%08x.parquet " +
            s"""{"event_id":{"min":${i * 100},"max":${i * 100 + 99},""" +
            s""""nulls":0},"user_id":{"min":1,"max":60000,"nulls":3}}""" + "\n")
          lines += 1
          i += 1
        }
        w.write(s"#end $lines\n")
      } finally w.close()
      (n + 1 to n + 32).foreach { s =>
        Files.write(log.resolve(f"$s%020d.commit"),
          (s"v2 -1 ${1700000000000L + s}\nlake u$s\n" +
            f"source=ev/c$s%020d-part-00000-live.parquet").getBytes("UTF-8"))
        Files.write(log.resolve(f"$s%020d.done"), Array.emptyByteArray)
      }
      graft.lake.Layout(root)
    }

    def heapMb(): Double = {
      System.gc(); Thread.sleep(100); System.gc()
      (Runtime.getRuntime.totalMemory - Runtime.getRuntime.freeMemory) / 1e6
    }

    args.headOption.map(_.split(',').map(_.toInt).toSeq)
      .getOrElse(Seq(100000, 1000000)).foreach { n =>
      val layout = build(n)
      val h0 = heapMb()
      val t0 = System.nanoTime()
      val head = graft.lake.Catalog.headVersion(spark, layout)
      val cold = (System.nanoTime() - t0) / 1e6
      val h1 = heapMb()
      val t1 = System.nanoTime()
      graft.lake.Catalog.headVersion(spark, layout)
      val warm = (System.nanoTime() - t1) / 1e6
      val files = {
        val t = System.nanoTime()
        val k = graft.lake.Catalog.lakeFilesAsOf(spark, layout).size
        (k, (System.nanoTime() - t) / 1e6)
      }
      val t2 = System.nanoTime()
      val folded = graft.lake.Catalog.checkpoint(spark, layout)
      val fold = (System.nanoTime() - t2) / 1e6
      val t3 = System.nanoTime()
      val pruned = graft.lake.Catalog.pruneLog(spark, layout)
      val prune = (System.nanoTime() - t3) / 1e6
      val cpBytes = Files.size(Paths.get(
        s"${layout.catalogDir}/_log/" + f"${head}%020d.checkpoint"))
      println(f"[logscale] n=$n%d head=$head%d coldReadMs=$cold%.0f " +
        f"warmReadMs=$warm%.2f liveFiles=${files._1}%d " +
        f"liveListMs=${files._2}%.0f refoldMs=$fold%.0f " +
        f"pruneMs=$prune%.0f (folded=$folded pruned=$pruned) " +
        f"cpMb=${cpBytes / 1e6}%.1f heapDeltaMb=${h1 - h0}%.0f")
    }

    val perCommit = 100
    def key(seq: Int, i: Int): String =
      f"file:///data/lake/bronze/source=s${i % 8}%d/2024/01/01/00/" +
        f"ingest-1-2024-01-01-00-00-00-$seq%08x-$i%04x.json.gz"
    def arrival(seq: Int): Long = 1704067200000L + seq * 1000L
    def entry(seq: Int, i: Int): String =
      s"${arrival(seq) * 1000L} ${arrival(seq)} s${i % 8} ${key(seq, i)}"
    def buildEntries(n: Int): (graft.lake.Layout, Int) = {
      val root = Files.createTempDirectory(s"logscale-entries-$n").toString
      val log = Paths.get(s"$root/catalog/_log")
      Files.createDirectories(log)
      val folded = n / perCommit
      val w = Files.newBufferedWriter(log.resolve(f"$folded%020d.checkpoint"))
      try {
        (1 to folded).foreach { seq =>
          (0 until perCommit).foreach(i =>
            w.write(s"CE $seq ${entry(seq, i)}\n"))
        }
        w.write(s"#end ${folded * perCommit}\n")
      } finally w.close()
      (folded + 1 to folded + 32).foreach { seq =>
        val body = new StringBuilder(s"v2 $seq ${arrival(seq)}\ndist u$seq")
        (0 until 8).foreach(i => body ++= s"\nsource=s$i/part-00000-$seq.json")
        (0 until perCommit).foreach(i =>
          body ++= s"\ncatent ${entry(seq, i)}")
        Files.write(log.resolve(f"$seq%020d.commit"), body.result().getBytes("UTF-8"))
        Files.write(log.resolve(f"$seq%020d.done"), Array.emptyByteArray)
      }
      (graft.lake.Layout(root), folded + 32)
    }
    def ms[T](body: => T): (T, Double) = {
      val t = System.nanoTime(); val out = body; (out, (System.nanoTime() - t) / 1e6)
    }

    args.headOption.map(_.split(',').map(_.toInt).toSeq)
      .getOrElse(Seq(100000, 1000000)).foreach { n =>
      val (layout, head) = buildEntries(n)
      val h0 = heapMb()
      val (versions, cold) = ms(graft.lake.Catalog.versions(spark, layout).size)
      val h1 = heapMb()
      val (_, warm) = ms(graft.lake.Catalog.versions(spark, layout))
      def oneArrival(seq: Int): Int = graft.lake.Catalog.rangeQuery(spark, layout, "s3",
        new java.sql.Timestamp(arrival(seq)), new java.sql.Timestamp(arrival(seq))).collect().length
      spark.range(1).collect() // the JVM's first Spark query pays the session's warm-up
      val (_, firstRange) = ms(oneArrival(head - 41)) // builds the index
      val (keys, range) = ms(oneArrival(head - 40))
      // the same log read and local-relation collect, with no entry to find
      val (_, emptyRange) = ms(graft.lake.Catalog.rangeQuery(spark, layout, "nobody",
        new java.sql.Timestamp(arrival(head - 40)), new java.sql.Timestamp(arrival(head - 40))).collect())
      val (folded, fold) = ms(graft.lake.Catalog.checkpoint(spark, layout))
      val (pruned, prune) = ms(graft.lake.Catalog.pruneLog(spark, layout))
      val cpBytes = Files.size(Paths.get(s"${layout.catalogDir}/_log/" + f"$head%020d.checkpoint"))
      println(f"[logscale-entries] n=${head * perCommit}%d versions=$versions%d " +
        f"coldReadMs=$cold%.0f warmReadMs=$warm%.2f rangeKeys=$keys%d " +
        f"firstRangeQueryMs=$firstRange%.0f rangeQueryMs=$range%.1f " +
        f"emptyRangeQueryMs=$emptyRange%.1f " +
        f"refoldMs=$fold%.0f pruneMs=$prune%.0f " +
        f"(folded=$folded pruned=$pruned) cpMb=${cpBytes / 1e6}%.1f " +
        f"heapDeltaMb=${h1 - h0}%.0f")
    }

    val sources = 8
    def distFile(seq: Int, i: Int): String =
      f"source=s$i%d/c$seq%020d-part-0000$i%d-$seq%08x.c000.json"
    def buildDist(n: Int): (graft.lake.Layout, Int) = {
      val root = Files.createTempDirectory(s"logscale-dist-$n").toString
      val log = Paths.get(s"$root/catalog/_log")
      Files.createDirectories(log)
      val folded = n / sources
      val w = Files.newBufferedWriter(log.resolve(f"$folded%020d.checkpoint"))
      try {
        (1 to folded).foreach { seq =>
          (0 until sources).foreach { i =>
            w.write(s"D $seq ${4000 + i} ${distFile(seq, i)}\n")
            w.write(s"DN $seq 12 source=s$i\n")
          }
        }
        w.write(s"#end ${folded * sources * 2}\n")
      } finally w.close()
      (folded + 1 to folded + 32).foreach { seq =>
        val body = new StringBuilder(s"v2 $seq ${arrival(seq)}\ndist u$seq")
        (0 until sources).foreach(i => body ++= s"\n${4000 + i} source=s$i/part-0000$i.c000.json")
        (0 until sources).foreach(i => body ++= s"\ndistrows 12 source=s$i")
        Files.write(log.resolve(f"$seq%020d.commit"), body.result().getBytes("UTF-8"))
        Files.write(log.resolve(f"$seq%020d.done"), Array.emptyByteArray)
      }
      (graft.lake.Layout(root), folded + 32)
    }

    args.headOption.map(_.split(',').map(_.toInt).toSeq)
      .getOrElse(Seq(100000, 1000000)).foreach { n =>
      val (layout, head) = buildDist(n)
      val h0 = heapMb()
      val (live, cold) = ms(graft.lake.Catalog.distLiveFiles(spark, layout).size)
      val h1 = heapMb()
      val (df, plan) = ms {
        val df = graft.lake.Distribution.subscribeSnapshot(spark, layout, "s3")
        df.queryExecution.executedPlan
        df
      }
      val (rows, count) = ms(df.count())
      val (_, replan) = ms(graft.lake.Distribution.subscribeSnapshot(spark, layout, "s5")
        .queryExecution.executedPlan)
      val (_, repeat) = ms(graft.lake.Distribution.subscribeSnapshot(spark, layout, "s5")
        .queryExecution.executedPlan)
      val (folded, fold) = ms(graft.lake.Catalog.checkpoint(spark, layout))
      val (pruned, prune) = ms(graft.lake.Catalog.pruneLog(spark, layout))
      val cpBytes = Files.size(Paths.get(s"${layout.catalogDir}/_log/" + f"$head%020d.checkpoint"))
      println(f"[logscale-dist] files=$live%d coldReadMs=$cold%.0f " +
        f"subscribePlanMs=$plan%.0f countMs=$count%.1f rows=$rows%d " +
        f"secondSourcePlanMs=$replan%.0f repeatPlanMs=$repeat%.0f " +
        f"refoldMs=$fold%.0f pruneMs=$prune%.0f (folded=$folded pruned=$pruned) " +
        f"cpMb=${cpBytes / 1e6}%.1f heapDeltaMb=${h1 - h0}%.0f")
    }
    spark.stop()
  }
}
