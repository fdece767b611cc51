package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import graft.{Checkpoints, DataWarehouseSync, GatherClient, GraftConfig}
import graft.sources.FileInventory
import graft.sync.Pipeline

/** The reference's continuous mode end-to-end (ST1 production form): watch
  * `config.path`, and per micro-batch reconcile the newly-arrived files
  * against the remote and apply the *incremental-safe* actions — creates
  * and updates. The file source delivers each file exactly once across
  * epochs (checkpointed), so a batch is "what arrived since last trigger":
  *  - a new unmatched file  -> K1 create;
  *  - a file whose md5 matches an existing project under another path
  *    -> C1 rename, K2 update (DW.js:260-291);
  * Archives are deliberately NOT applied here: absence from an incremental
  * batch is not deletion — K3 needs a full snapshot and stays on the batch
  * [[graft.DataWarehouseSync.syncFilesystem]] path.
  *
  * Delivery is at-least-once per epoch (foreachBatch re-runs a failed
  * epoch); pairing with an idempotency-keyed client
  * ([[graft.client.HttpGatherClient]]) makes the apply effectively-once —
  * the same epoch replays with the same batch payloads and the server
  * deduplicates by key (proven in `WatermarkSpec`'s foreachBatch case +
  * `HttpGatherClientSpec`).
  */
object StreamingSync {

  /** Start the watch; with the default AvailableNow trigger this processes
    * the current directory contents and terminates (the reference's
    * quiescence barrier, DW.js:639-659); a ProcessingTime trigger turns
    * the identical plan into a true continuous watch that runs until the
    * query fails or the caller stops it.
    *
    * The watchdog (`boundedWaitMillis`, default 180 s) applies only to
    * self-terminating triggers (AvailableNow/Once), where not finishing
    * means the stream is wedged and the harness should abort loudly.
    * Continuous triggers never terminate by design, so they get an
    * unbounded `awaitTermination()` instead of a bounded-wait-and-throw.
    */
  def run(spark: SparkSession, config: GraftConfig, client: GatherClient,
          checkpoint: String,
          trigger: Trigger = Trigger.AvailableNow(),
          boundedWaitMillis: Long = 180000L): Unit = {
    val raw = spark.readStream.format("binaryFile")
      .schema(FileInventory.binaryFileSchema)
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", config.fileGlob)
      .load(config.path)
    val q = raw.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        syncBatch(batch, config, client)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
    // AvailableNowTrigger / OneTimeTrigger are the self-terminating kinds;
    // matched by class name so the deprecated Trigger.Once() needn't be
    // referenced here.
    val selfTerminating = trigger == Trigger.AvailableNow() ||
      trigger.getClass.getSimpleName.startsWith("OneTimeTrigger")
    if (selfTerminating) {
      if (!q.awaitTermination(boundedWaitMillis)) {
        q.stop()
        throw new IllegalStateException(
          s"streaming sync did not finish within ${boundedWaitMillis}ms; aborting")
      }
    } else q.awaitTermination()
  }

  /** One epoch: enrich the arrived files, match them against the remote's
    * current state, apply creates + updates.
    */
  private[streaming] def syncBatch(batch: DataFrame, config: GraftConfig,
                                   client: GatherClient): Unit = {
    if (batch.isEmpty) return
    val files = FileInventory.enrich(batch, config.path)
    // one remote snapshot per epoch, cut with the run: the V2 list
    // relations are lazy, and uncut the applyCreates job would re-fetch a
    // list already mutated by this epoch's own applyUpdates POSTs —
    // breaking both snapshot isolation and the epoch-replay
    // effectively-once argument (a replay must rebuild the same batch
    // payloads). The run is computed once for both deliveries and
    // released with the epoch.
    val (r, cuts) = Pipeline.stored(files,
      DataWarehouseSync.normalizeProjects(client.listProjects(), config.iam),
      client.listCategories(), config.rootCategory)
    try {
      client.applyUpdates(r.updates)
      client.applyCreates(r.creates)
    } finally cuts.foreach(Checkpoints.release)
  }
}
