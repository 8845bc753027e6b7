package graftbench

import graft.gen.FakeData

/** The workloads and their sizes. Each workload's client issues one class
  * of timed statements (its end-to-end metrics) and, between them, the
  * other engine calls whose layers it exercises (traced per layer).
  */
object Workloads {
  // drifting CSV batches in the shape of `FakeData.generate`'s defaults:
  // 20 files per batch, 1..10 rows and 1..70 optional columns per file
  val DriftFiles = 20
  val DriftRows = 10
  val DriftCols: Int = FakeData.OptionalColumns.length
  // the keyed table: batches of a fixed row count, so its size (and the
  // bytes a copy-on-write rewrite moves) does not depend on the seed
  val KeyedRows = 250
  val KeyedCols = 70
  val KeyedBatchRows = 500

  val MicroBatches = 4
  val MicroBatchRows = 20
  /** Versions the periodic expiry keeps. */
  val KeepVersions = 12

  private def drift = Step("ingest", (p, s) =>
    p.ingestBatch(s.main, DriftFiles, DriftRows, DriftCols))
  private def keyedIngest = Step("ingest", (p, s) =>
    p.ingestBatch(s.main, 1, KeyedRows, KeyedCols,
      project = Some(Pipeline.KeyedColumns), timed = false,
      minRows = KeyedBatchRows))
  private def read(kind: String) = Step(kind, (p, s) => p.read(s.main, kind))
  private def dml(kind: String, upd: Int, ins: Int, del: Int) =
    Step(kind, (p, s) => p.dml(s.main, kind, upd, ins, del))
  private def stream(n: Int) = Step("stream",
    (p, s) => p.stream(s.events, n, MicroBatchRows))
  private def maintain = Step("maintain", (p, s) => p.maintain(s.main, KeepVersions))

  /** Row-level SQL on this table commits delete vectors. */
  private def moR(bt: BenchTable): Unit = {
    bt.t.setProperties(Map("graft.delete.mode" -> "merge-on-read",
      "graft.merge.mode" -> "merge-on-read"))
    bt.noteVersion()
  }

  /** The paper's pipeline. Its statements are ingest batches: many small
    * drifting-schema CSVs, each batch at its own month clock, through
    * `CsvIngest.ingest` and `SnapshotTable.append`. Between them the
    * streaming sink commits tiny micro-batches and a few reads check rows
    * per month; those are traced per layer but are not statements here.
    */
  val ingestDrift = Workload("ingest_drift", "ingest_batch",
    setup = p => {
      val main = p.table("drift")
      p.ingestBatch(main, DriftFiles, DriftRows, DriftCols, timed = false)
      State(main, p.streamTable())
    },
    // one step of each other kind (set-up has just ingested a batch): a
    // whole cycle takes about 25 s
    warmup = driftCycle.distinctBy(_.name).filterNot(_.name == "ingest"),
    cycle = driftCycle, finish = Nil)

  private def driftCycle = Seq(drift, read("full_agg"), drift,
    stream(MicroBatches), read("time_travel"), drift, read("month_range"))

  /** A keyed table evolved in set-up (widen, add, rename, drop). Its
    * statements are row-level: Scala `upsert`/`delete` (copy-on-write)
    * and SQL `MERGE INTO`/`DELETE FROM` through the catalog (delete
    * vectors). MERGE is five of the eight and more than half of every
    * prefix of the cycle, so the median falls inside one statement kind
    * wherever the run stops; the mix latency (each kind's median weighted
    * by its share of the cycle) carries the other kinds. Each is followed by a count through the
    * catalog that must mask the delete vectors; between them run other
    * reads and, once a cycle, compaction plus expiry. The run closes with
    * one more compaction that expires every older version, so stored
    * bytes are those of the live rows alone.
    */
  val upsertChurn = Workload("upsert_churn", "dml",
    setup = p => {
      val main = p.table("keyed")
      keyedIngest.run(p, State(main, null))
      p.evolve(main)
      keyedIngest.run(p, State(main, null))
      moR(main)
      State(main, null)
    },
    // one step of each kind: a whole cycle cold takes about 30 s
    warmup = churnCycle.distinctBy(_.name), cycle = churnCycle,
    finish = Seq(Step("finish", (p, s) => p.maintain(s.main, keep = 1))))

  private def churnCycle = Seq(
    dml("merge_sql", 20, 10, 0), dml("merge_sql", 20, 10, 0),
    dml("upsert_api", 20, 10, 0), read("key_lookup"),
    dml("merge_sql", 20, 10, 0), dml("delete_api", 0, 0, 10),
    read("sql_catalog"), dml("merge_sql", 20, 10, 0),
    dml("delete_sql", 0, 0, 10), read("meta_agg"),
    dml("merge_sql", 20, 10, 0),
    // compaction folds every delete vector away; the DSv1 read path
    // (`format("graft")`) runs after it
    maintain, read("format_graft"))

  val byName: Map[String, Workload] =
    Seq(ingestDrift, upsertChurn).map(w => w.name -> w).toMap

  /** Break the expected answers on purpose: one phantom row in an existing
    * month and in the month the next batch lands in. Applied after set-up,
    * so the warm-up's checks must already catch it.
    */
  def corrupt(p: Pipeline, s: State): Unit = {
    val bt = s.main
    val m = bt.rowsByMonth.keys.head
    bt.rowsByMonth(m) = bt.rowsByMonth(m) + 1
    bt.rowsByMonth(p.nextMonth) = bt.rowsByMonth.getOrElse(p.nextMonth, 0L) + 1
  }
}
