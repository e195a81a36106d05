package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{CorpusSource, Extract}

/** Physical-plan shape assertions (builder prompt: ".explain the plan and
  * iterate until it's the plan you'd want"). These lock in:
  *  - predicate pushdown + column pruning reaching the parquet scan,
  *  - broadcast joins for dimension/marker tables,
  *  - the extraction stage being shuffle-free (scan → mapPartitions only).
  */
class PlanShapeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.maxMetadataStringLength", "2000")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q01: filters are pushed to the parquet scan and columns pruned") {
    val plan = planOf("q01_filter_project")
    assert(plan.contains("PushedFilters:"), plan)
    assert(plan.contains("GreaterThanOrEqual(l_quantity,45.0)"), plan)
    assert(plan.contains("GreaterThan(l_discount,0.07)"), plan)
    // scan must not read unused columns like l_comment-ish fields / shipdate
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_shipdate"), readSchema)
    assert(readSchema.contains("l_quantity"), readSchema)
  }

  test("q06: dimension joins execute as broadcast hash joins") {
    val plan = planOf("q06_broadcast_dims")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("d03: language vote is join-free; only the presentation sort shuffles") {
    val plan = planOf("d03_lang_id")
    // the marker lexicons are in-plan literals (the char-dict broadcast made
    // static); the vote itself is row-local — no join, no aggregation shuffle
    assert(!plan.contains("Join"), plan)
    assert(plan.linesIterator.count(_.contains("Exchange")) <= 1, plan)
  }

  test("extraction stage is shuffle-free") {
    val plan = Extract.run(CorpusSource.pages(spark, 100))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("pipeline output supports bucket partition pruning (Iceberg-layout)") {
    val out = java.nio.file.Files.createTempDirectory("graft-prune").toFile.getAbsolutePath
    graft.pipeline.ExtractPipeline.run(spark, CorpusSource.pages(spark, 56), out,
      graft.pipeline.PipelineConf(numBuckets = 8, megaBuckets = 1))
    val pruned = graft.pipeline.ExtractPipeline.output(spark, out)
      .filter(org.apache.spark.sql.functions.col("bucket") === 3)
    val plan = pruned.queryExecution.executedPlan.toString
    // the bucket predicate must become a PartitionFilter on the scan, not a
    // post-scan Filter over all buckets
    assert(plan.contains("PartitionFilters: [isnotnull(bucket"), plan)
    assert(plan.contains("(bucket"), plan)
  }

  test("ExtractPipeline.run executes no query that scans its own output data") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.util.QueryExecutionListener
    import graft.pipeline.{ExtractPipeline, PipelineConf}
    val out = java.nio.file.Files.createTempDirectory("graft-noreread").toFile.getAbsolutePath
    def canonical(p: String) = new java.io.File(p).getCanonicalPath
    val marker = "plan_guard_marker"
    val scanned = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var markerSeen = false
    def record(qe: QueryExecution): Unit = {
      val plan = qe.analyzed
      if (plan.output.exists(_.name == marker)) markerSeen = true
      plan.foreach {
        case r: LogicalRelation => r.relation match {
          case h: HadoopFsRelation =>
            h.location.rootPaths.foreach(p => scanned.add(canonical(p.toUri.getPath)))
          case _ =>
        }
        case _ =>
      }
    }
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    }
    val conf = PipelineConf(numBuckets = 8, megaBuckets = 1)
    val pages = CorpusSource.pages(spark, 56)
    spark.listenerManager.register(listener)
    try {
      ExtractPipeline.run(spark, PartialRun.pages(pages, conf, (0 until 4).toSet), out, conf)
      ExtractPipeline.run(spark, pages, out, conf, resume = true)
      // listener events arrive in order: once the marker query is seen, every
      // query the two runs executed has been recorded
      spark.range(1).toDF(marker).collect()
      val deadline = System.currentTimeMillis() + 30000
      while (!markerSeen && System.currentTimeMillis() < deadline) Thread.sleep(20)
    } finally spark.listenerManager.unregister(listener)
    assert(markerSeen, "the query listener never saw the marker query")
    import scala.jdk.CollectionConverters._
    val paths = scanned.asScala.toSeq
    // the resume run reads the lineage table, so the listener does see the
    // pipeline's own queries
    assert(paths.contains(canonical(ExtractPipeline.lineageDir(out))), paths)
    val data = canonical(ExtractPipeline.dataDir(out))
    assert(!paths.exists(p => p == data || p.startsWith(data + "/")), paths)
  }

  test("ExtractPipeline.run's data write sorts once, on bucket") {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.execution.{QueryExecution, SortExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.util.QueryExecutionListener
    import graft.pipeline.{ExtractPipeline, PipelineConf}
    val out = java.nio.file.Files.createTempDirectory("graft-onesort").toFile.getAbsolutePath
    val data = new org.apache.hadoop.fs.Path(ExtractPipeline.dataDir(out)).toUri.getPath
    val marker = "plan_guard_marker"
    // the sort keys of each Sort in each data write's executed plan
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Seq[String]]]()
    @volatile var markerSeen = false
    val helper = new AdaptiveSparkPlanHelper {}
    def record(qe: QueryExecution): Unit = {
      if (qe.analyzed.output.exists(_.name == marker)) markerSeen = true
      helper.foreach(qe.executedPlan) {
        case w: DataWritingCommandExec => w.cmd match {
          case i: InsertIntoHadoopFsRelationCommand if i.outputPath.toUri.getPath == data =>
            writes.add(helper.collect(w.child) { case s: SortExec =>
              s.sortOrder.map(_.child match {
                case a: AttributeReference => a.name
                case e => e.sql
              })
            })
          case _ =>
        }
        case _ =>
      }
    }
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    }
    spark.listenerManager.register(listener)
    try {
      ExtractPipeline.run(spark, CorpusSource.pages(spark, 56), out,
        PipelineConf(numBuckets = 8, megaBuckets = 1))
      spark.range(1).toDF(marker).collect()
      val deadline = System.currentTimeMillis() + 30000
      while (!markerSeen && System.currentTimeMillis() < deadline) Thread.sleep(20)
    } finally spark.listenerManager.unregister(listener)
    assert(markerSeen, "the query listener never saw the marker query")
    import scala.jdk.CollectionConverters._
    // one data write, whose plan holds exactly one Sort: the partitioned
    // writer's own, on bucket
    assert(writes.asScala.toSeq == Seq(Seq(Seq("bucket"))), writes)
  }

  test("x16: warc_ts date partitions prune on dt (PartitionFilters, not post-scan)") {
    import org.apache.spark.sql.functions.{col, lit, to_date}
    val out = java.nio.file.Files.createTempDirectory("graft-dtprune").toFile.getAbsolutePath
    CorpusSource.pages(spark, 112).toDF()
      .withColumn("dt", to_date(col("warc_ts")))
      .write.partitionBy("dt").mode("overwrite").parquet(out)
    val pruned = spark.read.parquet(out)
      .filter(col("dt").between(lit("2020-01-02"), lit("2020-01-03")))
    val plan = pruned.queryExecution.executedPlan.toString
    // the dt predicate must prune partition DIRECTORIES at planning time,
    // never run as a post-scan Filter over all crawl days
    assert(plan.contains("PartitionFilters: [isnotnull(dt"), plan)
    assert(plan.contains("(dt"), plan)
    // and the pruned read is exactly the full corpus restricted to those days
    val full = spark.read.parquet(out)
    assert(pruned.count() == 48, pruned.count()) // 2 days × 24 hourly pages
    assert(pruned.count() ==
      full.filter(col("dt").between(lit("2020-01-02"), lit("2020-01-03"))).count())
    val prunedUrls = pruned.select("url").collect().map(_.getString(0)).toSet
    val fullUrls = full.collect().filter { r =>
      val d = r.getAs[java.sql.Date](r.fieldIndex("dt")).toString
      d >= "2020-01-02" && d <= "2020-01-03"
    }.map(_.getAs[String]("url")).toSet
    assert(prunedUrls == fullUrls)
  }

  test("e06: IVF candidates come from a list-id equi-join, never all-pairs") {
    val plan = planOf("e06_ivf_ann")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan) // probes join lists on list_id
    // the centroid matrix rides the plan as a reference object, not literals:
    // no flood of double literals in the plan text
    assert(!plan.contains("0.0078125"), plan)
  }

  test("e07: PQ candidates equi-join on list_id; codebooks ride as references; raw vectors only in the refine join") {
    val plan = planOf("e07_pq_ann")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan) // probes × encoded lists
    // ADC scoring is a kernel expression with codebooks as plan reference
    // objects — no literal-array flood. The ENCODE kernel no longer appears
    // in the served plan: the code table is localCheckpoint-materialized
    // (the compressed corpus PQ persists), so encode ran exactly once at
    // materialization and the probe plan reads the checkpointed rows.
    assert(plan.contains("graft_pq_score"), plan)
    assert(!plan.contains("graft_pq_encode"), plan)
    assert(plan.contains("Scan ExistingRDD"), plan) // the checkpointed codes
    assert(!plan.contains("0.0078125"), plan)
  }

  test("d15: benchmark gram set broadcasts; corpus probe is map-side") {
    val plan = planOf("d15_decontam")
    // the gram equi-join must be a broadcast hash join (bench side is tiny
    // by nature — eval suites vs a 10^12-doc corpus); corpus text must
    // never reach a sort-merge exchange on the gram key
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("x17: image mining is a shuffle-free row-local scan") {
    val plan = graft.functions.PdfImages
      .imageTable(CorpusSource.pdfImagePages(spark, 8))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("e01: query side broadcasts; no cartesian product materializes") {
    val plan = planOf("e01_knn_brute")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("d08: Jaccard verifies over LSH candidates via equi-joins only") {
    val plan = planOf("d08_jaccard_pairs")
    // candidate generation + token-set joins must all be hash/merge EQUI
    // joins — no nested-loop or cartesian anywhere (the r1 quadratic
    // within-block join would show as a non-equi join condition)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("d11: word spans push the doc_id bound to the scan") {
    val plan = planOf("d11_word_spans")
    assert(plan.contains("LessThan(doc_id,200)"), plan)
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("lang"), readSchema) // only doc_id + text read
  }

  test("d10b: 32-bit band pairs are equi-joins only — no cartesian, no nested loop") {
    val plan = planOf("d10b_simhash_pairs32")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("e04: candidate dedup shuffles id pairs only — no array column in any aggregate key") {
    val plan = planOf("e04_ann_bucketed")
    // the distinct() over the cross-table candidate union must group on
    // (query_id, vec_id) longs; the r2 shape carried both embedding arrays in
    // the distinct key — a multi-TB exchange at 10^9 vectors
    val keyLines = plan.linesIterator.filter(_.contains("keys=")).toSeq
    assert(keyLines.nonEmpty, plan)
    assert(keyLines.forall(l => !l.contains("embedding") && !l.contains("q#")), keyLines.mkString("\n"))
    assert(!plan.contains("CartesianProduct"), plan)
    // bucketing runs through the graft_srp_buckets kernel behind a
    // localCheckpoint (the ivf/pq signature-table discipline, r5) — the
    // SERVED plan carries zero kernel occurrences and, as before, no
    // nTables × nPlanes × dim literal weight doubles (at dim 1024 the r3
    // literal-array shape was ~16k literals per query)
    assert(!plan.contains("graft_srp_buckets"), plan)
    assert(!plan.contains("zip_with(embedding"), plan)
  }

  test("e05: blocked cosine pairs are equi-joins; brute subset bound pushed") {
    val bruteP = planOf("e05_cosine_dups")
    assert(bruteP.contains("LessThan(vec_id,200)"), bruteP)
    val blockedP = graft.functions.SimilarityFunctions
      .cosineDupPairs(spark.read.parquet(s"$sf/embeddings.parquet"), 0.95,
        nPlanes = 4, dim = 64)
      .queryExecution.executedPlan.toString
    assert(!blockedP.contains("CartesianProduct"), blockedP)
    assert(!blockedP.contains("BroadcastNestedLoopJoin"), blockedP)
  }

  test("d22/d23: global top-k plans as TakeOrderedAndProject, never a single-partition window") {
    for (q <- Seq("d22_vocab_topk", "d23_bpe_pairs")) {
      val plan = planOf(q)
      assert(plan.contains("TakeOrderedAndProject"), s"$q:\n$plan")
      assert(!plan.contains("Window"), s"$q must not sort globally through a window:\n$plan")
      // one combining shuffle for the count; partial_count proves map-side combine
      assert(plan.contains("partial_count"), s"$q:\n$plan")
    }
  }

  test("e08: within-cluster comparison is a list_id equi-join, never all-pairs") {
    val plan = planOf("e08_semantic_dedup")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("list_id"), plan)
  }

  test("d29: doc-table running sum windows by bucket; only the bucket table is single-partition") {
    val plan = planOf("d29_shard_pack")
    // the per-doc prefix window must be PARTITIONED (parallel across buckets)
    assert(plan.contains("windowspecdefinition(bkt"), plan)
    // bucket offsets join back as a broadcast — never a doc-table shuffle
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("d33: global top-k is TakeOrderedAndProject, not a corpus-wide rank window") {
    val plan = planOf("d33_bm25")
    // orderBy+limit compiles to a distributed per-partition top-k merged at
    // the driver; the rank window then sees only the k-row result. A plan
    // where row_number runs BEFORE the limit funnels every doc matching a
    // common query term through one task.
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("d28: segment-count exchanges carry digests, never segment text") {
    val plan = planOf("d28_line_dedup")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // every exchange below the occurrence count must ship (doc_id, seg_idx, h)
    // — the segment string feeds the md5 projection but never a partitioning
    for (l <- plan.linesIterator if l.contains("hashpartitioning"))
      assert(!l.contains("seg#") && !l.contains("clean_text"), l)
  }

  test("d48: repetition gate is scan-shaped — row-local kernel, zero hash exchange") {
    val plan = planOf("d48_gopher_repetition")
    assert(!plan.contains("CartesianProduct") && !plan.contains("Join"), plan)
    // the graft_gopher_rep kernel computes every width per document in the
    // scan stage; no aggregation, no window, no (doc_id, n, gram) exchange
    // — the only exchange is the presentation sort's range partitioning.
    // Exactly ONE kernel occurrence: plain explode's implicit non-empty
    // guard used to push down and re-derive the kernel inside the scan
    // filter (2-3 evaluations per row) — explode_outer + post-filter keeps
    // the hash-map pass single; this count catches a regression
    assert(plan.split("graft_gopher_rep", -1).length - 1 == 1, plan)
    assert(!plan.contains("hashpartitioning"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("d14: repetition signals are scan-shaped — kernel widths 1+2, zero hash exchange") {
    val plan = planOf("d14_repetition")
    assert(!plan.contains("CartesianProduct") && !plan.contains("Join"), plan)
    // graft_gopher_rep(widths 1,2) + array_distinct replace the original two
    // (doc_id, gram) shuffles and the doc_id equi-join (d48's rationale:
    // repetition is a per-document property); the only exchange left is the
    // presentation sort's range partitioning. Exactly ONE kernel occurrence:
    // the signals share a single per-row pass via CollapseProject's
    // non-cheap heuristic — a count guards against an optimizer change
    // silently duplicating the hash-map pass per referencing column.
    assert(plan.split("graft_gopher_rep", -1).length - 1 == 1, plan)
    assert(!plan.contains("hashpartitioning"), plan)
    assert(!plan.contains("HashAggregate"), plan)
  }

  test("d26: standing-corpus probe is a digest anti-join; no text column crosses it") {
    val plan = planOf("d26_incremental_dedup")
    assert(plan.contains("LeftAnti"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // the anti-join keys on the md5 digest, not the text — text may feed the
    // digest projection but must not BE a join key
    val joinLine = plan.linesIterator.find(_.contains("LeftAnti")).getOrElse("")
    assert(joinLine.contains("content_md5") || joinLine.contains("md5"), joinLine)
  }

  test("d27: top-K dictionary broadcasts; the token probe never sort-merges") {
    val plan = planOf("d27_dict_hit_rate")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan) // the dictionary top-K itself
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("d38: robots rules broadcast with the prefix test as join residual") {
    val plan = planOf("d38_robots_filter")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // the rules join broadcasts, equi on host, StartsWith as the residual —
    // never a nested loop over the frontier
    val bhj = plan.linesIterator.find(_.contains("BroadcastHashJoin")).getOrElse("")
    assert(bhj.contains("host") && bhj.contains("StartsWith"), plan)
    // any sort-merge join is the final doc_id verdict merge (frontier-sized
    // both sides — broadcasting it would be the WRONG shape at 10^12 urls)
    for (l <- plan.linesIterator if l.contains("SortMergeJoin"))
      assert(l.contains("doc_id"), l)
  }

  test("d37: template-frequency exchanges carry digests; verdict join is equi") {
    val plan = planOf("d37_template_boiler")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // the (grp, h) frequency and (grp, id) site-size passes partition on
    // digest/id columns — unit text feeds the md5 projection but must never
    // BE a partitioning key
    for (l <- plan.linesIterator if l.contains("hashpartitioning"))
      assert(!l.contains("unit#") && !l.contains("clean_text"), l)
    // partial aggregation runs map-side below the frequency exchange
    assert(plan.contains("partial_count"), plan)
  }

  test("d40: removal exchanges carry digests/positions, never shingle or doc text") {
    val plan = planOf("d40_crossdoc_removal")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // the digest pass, the dup-owner join, and the per-doc position collapse
    // all partition on h/doc_id — shingle text feeds the md5 projection but
    // must never BE a hash-partitioning key (only the presentation sort's
    // range exchange carries the rewritten text, once, at the very top)
    for (l <- plan.linesIterator if l.contains("hashpartitioning"))
      assert(!l.contains("s#") && !l.contains("text#") && !l.contains("clean_text"), l)
  }

  test("d42: snapshot keeper is ONE url-keyed aggregation — no window, no rejoin") {
    val plan = planOf("d42_snapshot_latest")
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("Join"), plan)
    // one partial/final agg pair around a SINGLE url hash exchange (the only
    // other exchange is the presentation sort's range partitioning); the
    // page body never partitions anything
    assert(plan.contains("partial_count"), plan)
    assert(plan.linesIterator.count(_.contains("hashpartitioning")) == 1, plan)
    for (l <- plan.linesIterator if l.contains("hashpartitioning"))
      assert(!l.contains("text#"), l)
  }

  test("d49: schedule is ONE host-keyed window shuffle; slot/worker/makespan add none") {
    val plan = planOf("d49_crawl_schedule")
    assert(!plan.contains("Join"), plan)
    // slotting + makespan both key on host: one hash exchange total (plus
    // the presentation sort's range partitioning)
    assert(plan.linesIterator.count(_.contains("hashpartitioning")) == 1, plan)
  }

  test("d52: revisit digest computed scan-side; one (url, digest) window, no body in exchanges") {
    val plan = planOf("d52_revisit_records")
    assert(!plan.contains("Join"), plan)
    assert(plan.linesIterator.count(_.contains("hashpartitioning")) == 1, plan)
    for (l <- plan.linesIterator if l.contains("hashpartitioning"))
      assert(!l.contains("text#"), l)
  }

  test("d54: two combining aggs — (url,digest) then url — with map-side partials, no window") {
    val plan = planOf("d54_recrawl_priority")
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("partial_count"), plan)
    assert(plan.linesIterator.count(_.contains("hashpartitioning")) == 2, plan)
    for (l <- plan.linesIterator if l.contains("hashpartitioning"))
      assert(!l.contains("text#"), l)
  }

  test("d50/d53: PSL rules join broadcasts; no labels array in any hash exchange") {
    for (name <- Seq("d50_registrable_domain", "d53_domain_cap")) {
      val plan = planOf(name)
      // the rules dim must broadcast; the doc_id rejoin may sort-merge (both
      // sides O(docs)) but what crosses its exchange must be scalars — the
      // projection ABOVE the join (computing the final public_suffix /
      // registrable) must consume fb_* fallback strings, never the labels
      // array, which dies in the scan stage
      assert(plan.contains("BroadcastHashJoin"), s"$name:\n$plan")
      for (l <- plan.linesIterator if l.contains("AS public_suffix#"))
        assert(!l.contains("ls#"), s"$name: $l")
    }
  }
}
