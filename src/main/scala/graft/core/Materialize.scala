package graft.core

import org.apache.spark.sql.{DataFrame, classic}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap, ExpressionSet}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.storage.StorageLevel

/** Fault-tolerant materialization of multi-consumer intermediates.
  *
  * Several pipelines cut their plans at a small intermediate (minhash
  * candidate pairs, substring-dedup's duplicated-gram set, the
  * connected-components loop state, BPE's working vocabulary, ivy shard
  * cells): materializing there is what lets AQE re-plan with real stats and
  * keeps iterative plans flat. Round 9's executor-kill probe
  * ([[graft.tools.FaultProbe]]) exposed the scale hole in doing that with a
  * bare `localCheckpoint`: it TRUNCATES LINEAGE, and its blocks are pinned
  * to the executor that computed them — `kill -9` one executor mid-query
  * and any task reading its block dies with
  * `CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`, 4 retries hit the same missing
  * block, and the whole query aborts. On a 1000-executor cluster, where
  * executor loss is routine (spot instances, OOM kills, node drains), that
  * makes every query passing through a localCheckpoint a casualty of any
  * single node. The reference survives node loss by re-fetching fragments
  * from replicas (`reference/executor.go:5966` remoteExec retry on
  * ErrShardUnavailable); these are the engine-native equivalents.
  *
  * Three tiers, chosen per session:
  *
  *  - **Reliable** (`spark.graft.checkpointDir` set — the 100-TB
  *    production mode): `Dataset.checkpoint` to a fault-tolerant
  *    filesystem (HDFS/S3/NFS). Blocks survive ANY number of executor
  *    losses; re-reads come from the FS. Spark does NOT reclaim reliable
  *    checkpoint files at application teardown — the ONLY in-process
  *    reclamation is the ContextCleaner with `spark.cleaner
  *    .referenceTracking.cleanCheckpoints=true`, which
  *    [[graft.core.EngineConf]] therefore sets engine-wide (without it a
  *    long-lived server leaks one checkpoint tree per query).
  *  - **Replicated** (any non-`local[*]` master without the conf):
  *    `localCheckpoint` at the requested storage level with replication 2.
  *    Each block lives on two executors, so the routine failure — ONE
  *    executor dies mid-query — finds every block still serveable from its
  *    replica; recovery needs no recompute at all. (Two simultaneous
  *    losses holding both replicas of a block still abort, the same
  *    2-of-N coverage argument as dfs block replication; the conf above is
  *    the full answer.) Costs 2× the block footprint — acceptable because
  *    every call site materializes a candidate/dup-key/loop-state table
  *    orders of magnitude smaller than the corpus, never the corpus
  *    itself (those share exchanges via ReuseExchange instead, see
  *    [[graft.functions.Dedup]]).
  *  - **Local** (`local[*]`): plain `localCheckpoint` — one JVM, no
  *    executor to lose, and requesting replication would only spam
  *    "replicated to 0 peers" warnings.
  */
object Materialize {

  /** Materialize `df` eagerly so downstream consumers re-read instead of
    * recompute, surviving executor loss per the session's tier (above). */
  def stable(df: DataFrame,
             level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    val spark = df.sparkSession
    val sc = spark.sparkContext
    val reliableDir = scala.util.Try(spark.conf.get("spark.graft.checkpointDir"))
      .toOption.filter(_.nonEmpty)
    bound(reliableDir match {
      case Some(dir) =>
        // idempotent: first caller pins the dir; SparkContext keeps it
        if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
        df.checkpoint(eager = true)
      case None =>
        val lvl = if (sc.isLocal) level else replicated(level)
        df.localCheckpoint(eager = true, lvl)
    })
  }

  /** The checkpoint with its constraints bound to its own output
    * attributes. Spark carries the source plan's constraints onto the
    * `LogicalRDD` and rewrites them by Attribute equality, which includes
    * nullability: a constraint on `_id` taken where `_id` was still
    * nullable keeps that instance. `LogicalRDD.newInstance` — the piece
    * read twice in one plan, as a self-join or self-union does — then
    * leaves it on the old exprId, and `Union.validConstraints` fails with
    * "key not found: _id#…". */
  private def bound(ds: DataFrame): DataFrame = ds.queryExecution.logical match {
    case r: LogicalRDD =>
      val byId = AttributeMap(r.output.map(a => a -> a))
      val cs = ExpressionSet(r.constraints.toSeq
        .filter(_.references.forall(byId.contains))
        .map(_.transform { case a: Attribute => byId(a) }))
      val session = ds.sparkSession.asInstanceOf[classic.SparkSession]
      Shim.ofRows(session, r.copy()(session, Some(r.stats), Some(cs)))
    case _ => ds
  }

  private def replicated(l: StorageLevel): StorageLevel =
    if (l.replication >= 2) l
    else StorageLevel(l.useDisk, l.useMemory, l.useOffHeap, l.deserialized, 2)
}
