package graft.etl

import graft.io.Jobs
import graft.model.CdmModel

/** The CLI restriction flags of `etl.py:109-129` / `riab.py`:
  *  - `onlyQueries`: `--only-query` — run just the named user-query files,
  *    grouped by their OMOP table (etl.py groups `Path.parts[0]`), each
  *    followed by that table's event-FK step;
  *  - `onlyTables`: `--table` — process just these tables (+ their event
  *    step), skipping the full-DAG flow;
  *  - `skipUsagiAndCustomConceptUpload`: `--skip-usagi-and-custom-concept-
  *    upload` — table processing skips the usagi/concept CSV uploads;
  *  - `skipEventFksStep`: `--skip-event-fks-step` — no event-FK rewriting.
  * The post-ETL invalid-reason cleanup only runs on a FULL etl (neither
  * restriction set), exactly like `etl.py:126-129`.
  */
final case class EtlFlags(
    onlyTables: Option[Set[String]] = None,
    onlyQueries: Option[Seq[String]] = None, // "table/query.sql" paths
    skipUsagiAndCustomConceptUpload: Boolean = false,
    skipEventFksStep: Boolean = false,
    processSemiApprovedMappings: Boolean = false) {

  /** `--only-query` values grouped by their leading path segment
    * (`etl.py:111-113`).
    */
  def queriesByTable: Map[String, Seq[String]] =
    onlyQueries.getOrElse(Seq.empty).groupBy(_.split("/").head)

  /** The Usagi statuses the merge accepts
    * (`--process-semi-approved-mappings`, `etl.py:495`/`etl.py:564`) —
    * feed this to `MergeOps.usagiSwap`'s `statuses` parameter.
    */
  def approvedStatuses: Seq[String] =
    if (processSemiApprovedMappings) Seq("APPROVED", "SEMI-APPROVED")
    else Seq("APPROVED")
}

/** Stage 1 of the "two-stage rocket": per-table ETL scheduling
  * (the reference's `src/riab/etl/etl.py:82-175`) — concurrent Spark jobs
  * on one SparkSession, the analogue of the reference's
  * `ThreadPoolExecutor(max_parallel_tables = 9)` (`etl_base.py:29`).
  */
final case class EtlRunner(
    model: CdmModel, maxParallelTables: Int = EtlRunner.DefaultMaxParallelTables) {

  /** The full `etl.py:109-129` control flow under [[EtlFlags]], with no
    * level barrier. `--only-query` runs the named queries table by table,
    * `--table` the named tables, in name order; each processed table's
    * event step follows unless `--skip-event-fks-step`.
    *
    * A full run launches every table's `prepareTable` — user queries to
    * the work upload, usagi/custom uploads, and the PK-swap write — at
    * once: a prepare reads only the raw zone and its own uploads, NEVER
    * another table. The returned finalize thunk (FK rewrite, dedup, gold
    * write) is the only phase that reads other tables' artifacts (the
    * parents' swap tables), so each finalize is gated on exactly {own +
    * FK-parent} prepares. Event steps run after all finalizes (they read
    * gold tables); the post-ETL cleanup reads only swap tables and writes
    * tables no finalize or event step touches (lineage map + version
    * metadata), so it gates on all prepares and drains concurrently with
    * the finalizes. It runs ONLY on a full etl (`etl.py:126-129`).
    *
    * The critical path is max-over-tables(prepare) + finalize, not
    * sum-over-levels; FK cycles cannot deadlock because gates wait on
    * prepares only, and prepares wait on nothing. All of it runs on one
    * [[Jobs.gated]] pool of `maxParallelTables` threads: when any step
    * fails, steps not yet started are skipped and the failure escapes
    * only after the running ones have finished.
    */
  def runFlowPipelined[T](
      universe: Seq[String],
      flags: EtlFlags = EtlFlags())(
      prepareTable: (String, Seq[String]) => Option[() => T],
      eventStep: String => Unit = _ => (),
      postEtlCleanup: () => Unit = () => ()): Map[String, T] = {
    def inline(tb: String, queries: Seq[String]): Option[(String, T)] = {
      val r = prepareTable(tb, queries).map(fin => tb -> fin())
      if (!flags.skipEventFksStep) eventStep(tb)
      r
    }
    if (flags.onlyQueries.isDefined)
      flags.queriesByTable.toSeq.sortBy(_._1)
        .flatMap { case (tb, qs) => inline(tb, qs) }.toMap
    else if (flags.onlyTables.isDefined)
      flags.onlyTables.get.toSeq.sorted.flatMap(tb => inline(tb, Seq.empty)).toMap
    else Jobs.gated(maxParallelTables) { g =>
      val universeSet = universe.toSet
      val preps = universe.map(t => t -> g.start(prepareTable(t, Seq.empty))).toMap
      val finals = universe.map { t =>
        val parents = (model.fks(t).values.toSet.intersect(universeSet) - t).toSeq
        g.after(preps(t) +: parents.map(preps))(ps => ps.head.map(fin => t -> fin()))
      }
      g.after(universe.map(preps))(_ => postEtlCleanup())
      g.after(finals) { results =>
        if (!flags.skipEventFksStep) universe.foreach(eventStep)
        results.flatten.toMap
      }
    }
  }
}

object EtlRunner {
  /** `etl_base.py:29`: `ThreadPoolExecutor(max_parallel_tables = 9)`. */
  val DefaultMaxParallelTables = 9

  /** Wire the runner from the riab.ini surface the way the reference CLI
    * does (`cli.py` passes `[riab] max_parallel_tables` into the ETL's
    * thread pool).
    */
  def fromConfig(model: CdmModel, config: RiabConfig): EtlRunner =
    EtlRunner(model, config.maxParallelTables)
}
