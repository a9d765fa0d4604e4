package graft.sources

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchFunctionException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.connector.catalog.{FunctionCatalog, Identifier, MetadataColumn, SupportsMetadataColumns, SupportsRead, SupportsRowLevelOperations, SupportsWrite, Table, TableCatalog, TableChange, TableCapability}
import org.apache.spark.sql.connector.catalog.functions.{AggregateFunction, BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, SupportsDelta, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType, IntegerType, LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** SURVEY.md §2.A — the WRITE side of the DSv2 ladder (r11): a
  * `TableCatalog` plugin whose tables implement the full V2 write
  * protocol — WriteBuilder → Write → BatchWrite → DataWriterFactory →
  * per-task DataWriter → WriterCommitMessage → driver-side commit.
  *
  * Registered per session via
  * `spark.sql.catalog.<name> = graft.sources.GraftMemCatalog`, then
  * `df.writeTo("<name>.t").createOrReplace()` / `spark.table("<name>.t")`
  * exercise createTable / loadTable / dropTable and both protocol
  * directions with NO format-string side channel — the catalog carries
  * the schema, which is what fixes the classic TableProvider write
  * problem (a bare `save()` can't tell a fresh sink its schema;
  * `writeTo` + catalog can, through createTable).
  *
  * The commit protocol is the part that matters at 100 TB: each task
  * STREAMS its rows to a private staging file on the shared filesystem
  * (r12 — java.io.tmpdir standing in for the HDFS/S3 staging prefix)
  * and returns only an O(1) MANIFEST (partition, path, row count) in
  * its WriterCommitMessage; nothing becomes visible until the driver's
  * single `commit(messages)` reads the manifests and publishes all
  * partitions atomically (task retries/speculation are already
  * de-duplicated upstream by Spark's commit coordinator —
  * `useCommitCoordinator` stays true). A failed job calls `abort`,
  * which deletes the staged files and the store never sees a row — the
  * staged-then-manifest shape every transactional sink (Iceberg-style
  * table formats, two-phase file sinks) follows, now honest at any
  * row count: task memory is O(1) (rows stream to disk as written) and
  * commit-message size is O(1) (Round12Suite writes a corpus-sized
  * frame through the staged path and asserts both).
  * Rows are encoded at write time ([[GraftMemCodec]]), which copies
  * their values out of the InternalRow (UTF8String buffers are reused by
  * Spark between `write(row)` calls — storing the raw row would alias
  * dead memory).
  */
class GraftMemCatalog extends TableCatalog with FunctionCatalog {
  private var catalogName: String = _
  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catalogName = name
  override def name(): String = catalogName

  private def key(ident: Identifier): String =
    (catalogName +: ident.namespace() :+ ident.name()).mkString(".")

  override def listTables(namespace: Array[String]): Array[Identifier] =
    GraftMemStore.names(catalogName).map(n => Identifier.of(Array.empty, n))
  override def tableExists(ident: Identifier): Boolean =
    GraftMemStore.exists(key(ident))
  override def loadTable(ident: Identifier): Table = {
    if (!GraftMemStore.exists(key(ident)))
      throw new NoSuchTableException(ident)
    new GraftMemTable(key(ident))
  }
  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: java.util.Map[String, String]): Table = {
    if (GraftMemStore.exists(key(ident)))
      throw new TableAlreadyExistsException(ident)
    schema.fields.foreach { f =>
      require(GraftMemStore.supported(f.dataType),
        s"${f.name}: ${f.dataType.simpleString} outside the supported codec " +
          "(long/int/double/string/boolean) — widen GraftMemCodec.Types and its encode/decode arms together")
      // r12 review fix: the scan resolves these names to synthesized
      // metadata sentinels BEFORE the data schema — a stored column with
      // either name would silently read the constant, so refuse it here.
      require(f.name != "_group" && f.name != "_rowpos",
        s"${f.name} is a reserved metadata column name on graft mem tables")
    }
    GraftMemStore.create(key(ident), schema, properties.asScala.toMap)
    new GraftMemTable(key(ident))
  }
  override def dropTable(ident: Identifier): Boolean = GraftMemStore.drop(key(ident))
  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException("graft mem catalog tables are write-replace only")
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("graft mem catalog tables are write-replace only")

  // -------------------------------------------------- FunctionCatalog
  // The V2 function surface (r11): catalog-resolved functions the
  // ANALYZER binds by input schema — no UDF registry, no session
  // mutation, and the scalar path compiles to a direct method call.
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    GraftFunctions.NAMES.map(n => Identifier.of(namespace, n))
  override def functionExists(ident: Identifier): Boolean =
    GraftFunctions.NAMES.contains(ident.name())
  override def loadFunction(ident: Identifier): UnboundFunction =
    GraftFunctions.load(ident.name())
      .getOrElse(throw new NoSuchFunctionException(ident))
}

/** V2 catalog functions. `graft_tag` is the range relation's tag
  * arithmetic exposed as a SCALAR function with the MAGIC method:
  * Spark's analyzer finds `invoke(long)` reflectively and plans a direct
  * (codegen-inlinable) call — the InternalRow `produceResult` stays as
  * the documented fallback, so both dispatch paths share one arithmetic.
  * `sum_sq` is a V2 AGGREGATE function (exact BIGINT sum of squares):
  * Spark runs newAggregationState/update per partition and merge across
  * partitions — the same partial/final split every built-in agg gets, so
  * the catalog function distributes like a native one rather than like a
  * collect-and-fold UDF. */
object GraftFunctions {
  val NAMES: Array[String] = Array("graft_tag", "sum_sq")
  def load(name: String): Option[UnboundFunction] = name match {
    case "graft_tag" => Some(new UnboundFunction {
      override def name(): String = "graft_tag"
      override def description(): String =
        "graft_tag(id BIGINT) -> STRING: the graft_range tag arithmetic"
      override def bind(inputType: StructType): BoundFunction = {
        require(inputType.length == 1 && inputType.head.dataType == LongType,
          s"graft_tag expects (BIGINT), got ${inputType.simpleString}")
        new GraftTagFunction
      }
    })
    case "sum_sq" => Some(new UnboundFunction {
      override def name(): String = "sum_sq"
      override def description(): String =
        "sum_sq(x BIGINT) -> BIGINT: exact sum of squares"
      override def bind(inputType: StructType): BoundFunction = {
        require(inputType.length == 1 && inputType.head.dataType == LongType,
          s"sum_sq expects (BIGINT), got ${inputType.simpleString}")
        new GraftSumSqFunction
      }
    })
    case _ => None
  }
}

class GraftTagFunction extends ScalarFunction[UTF8String] {
  private val tags = Array("a", "b", "c", "d", "e").map(UTF8String.fromString)
  override def name(): String = "graft_tag"
  override def canonicalName(): String = "graft.graft_tag"
  override def inputTypes(): Array[DataType] = Array(LongType)
  override def resultType(): DataType = StringType
  override def isResultNullable: Boolean = false
  /** The magic method — resolved reflectively by exact erased signature;
    * renaming it or changing the parameter type silently demotes every
    * call site to the row-boxed produceResult path. */
  def invoke(id: Long): UTF8String = tags(((id % 5 + 5) % 5).toInt)
  override def produceResult(input: InternalRow): UTF8String = invoke(input.getLong(0))
}

class GraftSumSqFunction extends AggregateFunction[java.lang.Long, java.lang.Long] {
  override def name(): String = "sum_sq"
  override def canonicalName(): String = "graft.sum_sq"
  override def inputTypes(): Array[DataType] = Array(LongType)
  override def resultType(): DataType = LongType
  override def newAggregationState(): java.lang.Long = 0L
  override def update(state: java.lang.Long, input: InternalRow): java.lang.Long =
    if (input.isNullAt(0)) state else {
      val v = input.getLong(0)
      state + v * v
    }
  override def merge(s1: java.lang.Long, s2: java.lang.Long): java.lang.Long = s1 + s2
  override def produceResult(state: java.lang.Long): java.lang.Long = state
}

/** JVM-singleton backing store: table key → (schema, committed rows).
  * Rows are kept encoded ([[GraftMemBlock]]s in the [[GraftMemCodec]]
  * layout): a commit publishes the blocks its tasks staged without
  * decoding them, and a scan slices them into its partitions. Snapshots
  * are immutable; `publish` swaps the whole block list in one reference
  * write, so readers never observe a half-committed table. */
object GraftMemStore {
  private case class State(schema: StructType, blocks: Vector[GraftMemBlock],
                           props: Map[String, String] = Map.empty,
                           gen: Long = 0L)
  private val tables = new ConcurrentHashMap[String, State]()

  def supported(dt: DataType): Boolean = GraftMemCodec.Types.contains(dt)
  def create(key: String, schema: StructType,
             props: Map[String, String] = Map.empty): Unit = {
    // A (re)created table starts a fresh epoch history — the ledger
    // guards replays WITHIN a query's lifetime, not across table
    // generations.
    epochs.remove(key)
    tables.put(key, State(schema, Vector.empty, props))
  }
  def props(key: String): Map[String, String] =
    Option(tables.get(key)).map(_.props).getOrElse(Map.empty)
  def exists(key: String): Boolean = tables.containsKey(key)
  def drop(key: String): Boolean = { epochs.remove(key); tables.remove(key) != null }
  def names(catalog: String): Array[String] =
    tables.keySet().asScala.filter(_.startsWith(catalog + "."))
      .map(_.stripPrefix(catalog + ".")).toArray.sorted
  def schema(key: String): StructType = tables.get(key).schema
  /** The committed rows, decoded to JVM values (strings as `String`). */
  def rows(key: String): Array[Array[Any]] = {
    val st = tables.get(key)
    val codec = GraftMemCodec(st.schema)
    st.blocks.toArray.flatMap(codec.values)
  }
  /** ONE atomic (schema, blocks) snapshot (r11 advice): scan planning must
    * not read schema and rows through two separate map lookups — a
    * concurrent createOrReplace between them could pair the new schema
    * with the old rows (mis-mapped fieldIndex) or NPE on a dropped table.
    * State is immutable, so the single get IS the snapshot. */
  def snapshot(key: String): (StructType, Vector[GraftMemBlock]) = {
    val st = tables.get(key)
    if (st == null)
      throw new NoSuchTableException(Identifier.of(Array.empty, key))
    (st.schema, st.blocks)
  }
  def publish(key: String, schema: StructType, rows: Array[Array[Any]],
              truncate: Boolean): Unit =
    publishBlocks(key, schema, Seq(GraftMemCodec(schema).block(rows)), truncate)
  def publishBlocks(key: String, schema: StructType, blocks: Seq[GraftMemBlock],
                    truncate: Boolean): Unit =
    tables.compute(key, (_, prev) => {
      val base = if (truncate || prev == null) Vector.empty else prev.blocks
      State(schema, base ++ blocks.filter(_.nRows > 0), if (prev == null) Map.empty else prev.props,
        if (prev == null) 1L else prev.gen + 1L)
    })
  /** Snapshot generation — bumped by every publish/applyDelta. The
    * optimistic-concurrency token delta operations carry from scan
    * planning to commit. */
  def generation(key: String): Long = {
    val st = tables.get(key)
    if (st == null)
      throw new NoSuchTableException(Identifier.of(Array.empty, key))
    st.gen
  }
  /** Atomic positional delta apply (r12 review fix): the read-modify-
    * write runs INSIDE the map's compute, and the _rowpos ids are only
    * valid against the exact snapshot generation the operation's scan
    * planned over — any publish in between (a concurrent append, a
    * second MERGE) invalidates the positions, so the apply FAILS the
    * commit instead of corrupting rows or silently losing the
    * concurrent write. Optimistic concurrency: the same conflict-abort
    * contract real table formats give row-level plans. Kept rows are
    * copied as encoded bytes; only updated and inserted rows are
    * encoded. */
  def applyDelta(key: String, expectedGen: Long,
                 deleted: java.util.HashSet[Long],
                 updated: java.util.HashMap[Long, Array[Any]],
                 inserts: Array[Array[Any]]): Unit = {
    tables.compute(key, (_, prev) => {
      if (prev == null)
        throw new NoSuchTableException(Identifier.of(Array.empty, key))
      if (prev.gen != expectedGen)
        throw new java.util.ConcurrentModificationException(
          s"$key changed (gen ${prev.gen} != scanned $expectedGen) since the row-level " +
            "scan planned — positional delta apply aborted; re-run the statement")
      val codec = GraftMemCodec(prev.schema)
      val out = new GraftMemBuffer
      var pos = 0L
      prev.blocks.foreach { b =>
        var r = 0
        while (r < b.nRows) {
          if (!deleted.contains(pos)) {
            val u = updated.get(pos)
            if (u == null) out.putBytes(b.bytes, b.starts(r), b.starts(r + 1) - b.starts(r))
            else codec.encode(u, out)
          }
          pos += 1; r += 1
        }
      }
      inserts.foreach(codec.encode(_, out))
      State(prev.schema, Vector(out.block(0)).filter(_.nRows > 0), prev.props, prev.gen + 1L)
    })
    ()
  }

  /** Streaming-epoch ledger: returns true exactly once per (table,
    * query, epoch) — the idempotence gate a re-delivered micro-batch
    * hits. Tokens carry the QUERY id, not just the epoch: epoch ids
    * restart at 0 for every new streaming query, so a table-only ledger
    * would silently swallow a SECOND query's first batches as "replays"
    * of the first query's (r11 review finding). Dropped with the table,
    * so a replaced table starts a fresh history. */
  private val epochs = new ConcurrentHashMap[String, java.util.Set[String]]()
  def beginEpoch(key: String, epochToken: String): Boolean =
    epochs.computeIfAbsent(key, _ => ConcurrentHashMap.newKeySet[String]())
      .add(epochToken)
  /** Non-marking replay check (r12 review fix): the streaming commit
    * must do its fallible staged-file I/O BEFORE marking the epoch
    * committed — marking first would turn a crash between ledger and
    * publish into a silent data drop when the engine retries the epoch
    * (the retry would read "already committed" and skip). Check, read,
    * publish, THEN mark; a query's epoch commits are serial, so the
    * check-then-mark pair cannot race itself. */
  def epochCommitted(key: String, epochToken: String): Boolean =
    Option(epochs.get(key)).exists(_.contains(epochToken))
}

class GraftMemTable(key: String) extends Table with SupportsRead with SupportsWrite
    with SupportsRowLevelOperations with SupportsMetadataColumns {
  override def name(): String = key
  override def schema(): StructType = GraftMemStore.schema(key)
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.STREAMING_WRITE, TableCapability.TRUNCATE).asJava

  /** `_group` = the replacement-group ordinal of the row — the provenance
    * column group-based row-level operations carry from scan to write
    * (the role `_file`/`_partition` plays for a file-backed table). This
    * single-snapshot store is one group, so the value is constantly 0;
    * what matters is the PROTOCOL: declaring it as the operation's
    * required metadata makes Spark thread a metadata projection through
    * the MERGE rewrite, and the per-row write then receives (metadata,
    * data) with the data row projected to the table schema. Hidden from
    * SELECT *; costs nothing unless resolved by name. */
  override def metadataColumns(): Array[MetadataColumn] = Array(
    new MetadataColumn {
      override def name(): String = "_group"
      override def dataType(): DataType = LongType
      override def isNullable: Boolean = false
      override def comment(): String =
        "replacement-group ordinal (always 0: the whole table is one atomic group)"
    },
    new MetadataColumn {
      override def name(): String = "_rowpos"
      override def dataType(): DataType = LongType
      override def isNullable: Boolean = false
      override def comment(): String =
        "stable row position in the committed snapshot — the delta-mode row id"
    })

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftMemScanBuilder(key)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftMemWriteBuilder(key, info.schema(), info.queryId())
  /** Row-level operations (r12): DELETE / UPDATE / MERGE INTO planned as
    * V2 operations instead of DataFrame emulations. Two strategies, both
    * real Spark plans — the table property `rowlevel=delta` selects the
    * WriteDelta path (per-row changelog keyed by `_rowpos`), anything
    * else the group-based ReplaceData rewrite. */
  override def newRowLevelOperationBuilder(info: RowLevelOperationInfo): RowLevelOperationBuilder =
    new RowLevelOperationBuilder {
      override def build(): RowLevelOperation =
        if (GraftMemStore.props(key).get("rowlevel").contains("delta"))
          new GraftMemDeltaOperation(key, info.command())
        else new GraftMemRowLevelOperation(key, info.command())
    }
}

/** GROUP-BASED row-level operation (r12 — Spark 4's
  * `SupportsRowLevelOperations`, the planned-MERGE answer to the
  * DataFrame-level emulations `sink_upsert`/`sink_cdc_apply`): the
  * analyzer rewrites DELETE/UPDATE/MERGE INTO against this table into a
  * ReplaceData plan — scan the affected groups through THIS operation's
  * scan, compute the surviving + updated + inserted rows, and hand them
  * to THIS operation's write, which replaces those groups atomically.
  *
  * Group granularity is the operation's one real design decision. This
  * store is a single atomic snapshot, so the whole table is ONE group:
  * `requiredMetadataAttributes` is empty (no per-row group id needed),
  * the scan reads everything, and the write publishes with
  * truncate=true — the rewritten content REPLACES the table in one
  * commit-swap, the same all-or-nothing visibility the batch write path
  * already guarantees. A partitioned durable table would instead expose
  * its partition value as a metadata column and replace only the
  * partitions the scan touched (the Iceberg copy-on-write shape); the
  * protocol seam is identical, only the group domain changes. Runtime
  * group filtering (Spark's candidate-group subquery) composes with
  * either — with one group it is a no-op by construction.
  *
  * The MERGE cardinality check (one source row per target row) and the
  * rewrite plan itself stay Spark's job — the connector only declares
  * scan+write, which is exactly the division of labor that keeps the
  * operation correct under AQE, speculation, and task retry. */
class GraftMemRowLevelOperation(key: String, cmd: RowLevelOperation.Command)
    extends RowLevelOperation {
  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"GraftMemRowLevelOperation[$cmd] $key"
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftMemScanBuilder(key)
  /** The group id must ride from scan to write (the Iceberg `_file`
    * shape). This is ALSO what makes Spark apply its row projection
    * before the write: ReplaceDataExec only wraps rows through
    * DataAndMetadataWritingSparkTask (which strips the internal
    * __row_operation column and splits (metadata, data)) when the
    * operation declares metadata attributes — without one, the raw
    * MergeRows output (operation column included) would reach the
    * DataWriter unprojected. */
  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column("_group"))
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = new WriteBuilder {
    override def build(): Write = new Write {
      override def description(): String = s"GraftMemReplaceData[$cmd] $key"
      // truncate=true IS the group replacement for a one-group table:
      // the commit atomically swaps the old content for the rewrite.
      override def toBatch: BatchWrite =
        new GraftMemBatchWrite(key, info.schema(), truncateFirst = true)
    }
  }
}

/** DELTA-BASED row-level operation (r12, the other half of the
  * protocol): instead of rewriting whole groups, the write receives a
  * PER-ROW changelog — `delete(meta, id)`, `update(meta, id, row)`,
  * `insert(row)` — keyed by the `rowId()` attributes, here the
  * `_rowpos` metadata column (the snapshot-stable position the scan
  * synthesizes). Spark plans WriteDelta instead of ReplaceData: only
  * CHANGED rows cross the write boundary, the shape a merge-on-read
  * table format ships (positional delete files + data files) and the
  * right trade at 100 TB when the touched fraction is small — group
  * replacement rewrites everything the group holds, delta writes pay
  * per changed row. Selected per table via `rowlevel=delta`.
  *
  * Each task streams its changelog entries (op, rowpos, values) to a
  * staging file through the same manifest transport as the data path;
  * the driver commit applies all changelogs positionally against the
  * current snapshot in one compute-swap: deletes drop, updates replace
  * in place, inserts append in (partition, arrival) order. Update
  * arrives as a single callback (representUpdateAsDeleteAndInsert stays
  * false), so a MERGE update never risks the delete-half committing
  * without its insert-half. */
class GraftMemDeltaOperation(key: String, cmd: RowLevelOperation.Command)
    extends RowLevelOperation with SupportsDelta {
  /** Optimistic-concurrency token (r12 review fix): the snapshot
    * generation the operation's scan planned over. The _rowpos ids the
    * changelog carries are positions in EXACTLY that snapshot, so the
    * commit passes the token to applyDelta, which aborts on mismatch
    * instead of applying stale positions. Captured at scan-builder
    * creation (driver-side, before any task reads). */
  @volatile private var scannedGen: Long = -1L
  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"GraftMemDeltaOperation[$cmd] $key"
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    if (scannedGen < 0) scannedGen = GraftMemStore.generation(key)
    new GraftMemScanBuilder(key)
  }
  override def rowId(): Array[NamedReference] = Array(Expressions.column("_rowpos"))
  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column("_group"))
  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new DeltaWrite {
        override def description(): String = s"GraftMemDeltaWrite[$cmd] $key"
        override def toBatch: DeltaBatchWrite =
          new GraftMemDeltaBatchWrite(key, scannedGen)
      }
    }
}

class GraftMemDeltaBatchWrite(key: String, scannedGen: Long) extends DeltaBatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory =
    new GraftMemDeltaWriterFactory(GraftMemStore.schema(key))
  /** Fold every task's changelog and apply it ATOMICALLY against the
    * snapshot generation the scan planned over (GraftMemStore.applyDelta
    * runs inside the map's compute and conflict-aborts on a generation
    * mismatch). Deletes/updates are position-keyed and order-free — each
    * position is touched by at most one changelog entry, the row-id
    * contract; inserts append in (partitionId, write order). */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val ms = messages.collect { case m: GraftMemStagedCommit => m }.sortBy(_.partitionId)
    val entries = ms.flatMap(m => GraftMemStaging.read(m.path, m.nRows))
    val deleted = new java.util.HashSet[Long]()
    val updated = new java.util.HashMap[Long, Array[Any]]()
    val inserts = Array.newBuilder[Array[Any]]
    // an entry is one changelog row: (op, rowpos, table columns…)
    entries.foreach { e =>
      e(0).asInstanceOf[String] match {
        case "D" => deleted.add(e(1).asInstanceOf[Long]); ()
        case "U" => updated.put(e(1).asInstanceOf[Long], e.drop(2)); ()
        case "I" => inserts += e.drop(2)
      }
    }
    GraftMemStore.applyDelta(key, scannedGen, deleted, updated, inserts.result())
    ms.foreach(m => GraftMemStaging.delete(m.path))
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.collect { case m: GraftMemStagedCommit => m }
      .foreach(m => GraftMemStaging.delete(m.path))
}

class GraftMemDeltaWriterFactory(schema: StructType) extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new DeltaWriter[InternalRow] {
      private val staged = new GraftMemStagedFile(GraftMemCodec.changelog(schema))
      // each entry is encoded as the changelog row (op, rowpos) ++ row
      private val head = new GenericInternalRow(2)
      private val noRow = new GenericInternalRow(schema.length)
      private val entry = new JoinedRow(head, noRow)
      private def emit(op: UTF8String, rowpos: Any, row: InternalRow): Unit = {
        head.update(0, op); head.update(1, rowpos)
        staged.emit(entry.withRight(row))
      }
      override def delete(meta: InternalRow, id: InternalRow): Unit =
        emit(GraftMemDeltaWriterFactory.D, id.getLong(0), noRow)
      override def update(meta: InternalRow, id: InternalRow, row: InternalRow): Unit =
        emit(GraftMemDeltaWriterFactory.U, id.getLong(0), row)
      override def insert(row: InternalRow): Unit =
        emit(GraftMemDeltaWriterFactory.I, null, row)
      override def commit(): WriterCommitMessage = staged.manifest(partitionId)
      override def abort(): Unit = staged.abort()
      override def close(): Unit = ()
    }
}

private object GraftMemDeltaWriterFactory {
  val D: UTF8String = UTF8String.fromString("D")
  val U: UTF8String = UTF8String.fromString("U")
  val I: UTF8String = UTF8String.fromString("I")
}

// ---------------------------------------------------------------- write

class GraftMemWriteBuilder(key: String, schema: StructType, queryId: String)
    extends WriteBuilder with SupportsTruncate {
  private var truncateFirst = false
  override def truncate(): WriteBuilder = { truncateFirst = true; this }
  override def build(): Write = {
    // Write-side distribution/ordering contract (r13 — the DSv2 rung
    // production table formats hang their layout guarantees on): a table
    // created with `write.distribution` / `write.ordering` properties
    // returns a Write implementing RequiresDistributionAndOrdering, and
    // SPARK inserts the clustering exchange + per-partition sort below
    // the write — the connector DECLARES the layout, the engine plans it
    // (same division of labor as the row-level operations above, and how
    // a 100 TB sink gets one-file-per-key layouts without a manual
    // repartition in every pipeline). Each task then observes its rows
    // arriving clustered and sorted, which GraftMemWriteAudit records
    // empirically (the declared op's test asserts the layout actually
    // REACHED the writers, not just that plan text looked right).
    val props = GraftMemStore.props(key)
    val distCol = props.get("write.distribution")
    val sortCol = props.get("write.ordering")
    if (distCol.isEmpty && sortCol.isEmpty) new Write {
      override def description(): String =
        s"GraftMemWrite $key truncate=$truncateFirst"
      override def toBatch: BatchWrite = new GraftMemBatchWrite(key, schema, truncateFirst)
      // truncate flows through (r11 review finding): a Complete-output-mode
      // stream calls truncate() before toStreaming, and each epoch must
      // REPLACE the table's contents, not append full state on top of the
      // previous epoch's.
      override def toStreaming: StreamingWrite =
        new GraftMemStreamingWrite(key, schema, queryId, truncateFirst)
    } else {
      import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
      import org.apache.spark.sql.connector.expressions.{Expressions, NullOrdering, SortDirection, SortOrder}
      GraftMemWriteAudit.reset(key)
      new Write with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
        override def description(): String =
          s"GraftMemWrite $key truncate=$truncateFirst dist=$distCol sort=$sortCol"
        override def requiredDistribution(): Distribution =
          distCol.map(c => Distributions.clustered(
              Array[org.apache.spark.sql.connector.expressions.Expression](
                Expressions.identity(c))))
            .getOrElse(Distributions.unspecified())
        override def requiredOrdering(): Array[SortOrder] =
          sortCol.map(c => Array(Expressions.sort(Expressions.identity(c),
              SortDirection.ASCENDING, NullOrdering.NULLS_FIRST)))
            .getOrElse(Array.empty[SortOrder])
        // 0 = let Spark (AQE advisory sizing) pick the partition count —
        // pinning a number here would recreate the fixed-partition spill
        // knee SCALE_TUNING documents.
        override def requiredNumPartitions(): Int = 0
        override def toBatch: BatchWrite =
          new GraftMemBatchWrite(key, schema, truncateFirst,
            audit = Some(GraftMemAuditCols(key,
              distCol.map(schema.fieldIndex), sortCol.map(schema.fieldIndex))))
        override def toStreaming: StreamingWrite =
          new GraftMemStreamingWrite(key, schema, queryId, truncateFirst)
      }
    }
  }
}

/** Which columns the layout audit watches (resolved to field indexes on
  * the driver, serialized into the writer factory). */
private[graft] final case class GraftMemAuditCols(key: String,
    clusterIdx: Option[Int], sortIdx: Option[Int])

/** Empirical per-task layout audit for distribution/ordering writes
  * (r13): each writer records whether ITS rows arrived sorted on the
  * ordering column and which clustering keys it saw (capped — overflow
  * recorded as None). The declared op's suite asserts sortedness in
  * every partition and cluster-key disjointness ACROSS partitions —
  * proof the engine-planned exchange+sort reached the write boundary. */
private[graft] object GraftMemWriteAudit {
  final case class Part(rows: Long, sorted: Boolean, clusterKeys: Option[Set[Any]])
  private val audits =
    new ConcurrentHashMap[String, ConcurrentHashMap[Int, Part]]()
  def reset(key: String): Unit = { audits.remove(key); () }
  def record(key: String, partitionId: Int, p: Part): Unit =
    audits.computeIfAbsent(key, _ => new ConcurrentHashMap[Int, Part]())
      .put(partitionId, p)
  def partitions(key: String): Map[Int, Part] = {
    val m = audits.get(key)
    if (m == null) Map.empty else m.asScala.toMap
  }
}

/** One task's commit MANIFEST (r12 — file-backed staging, r11 verdict
  * #8): the staged rows live in `path` on the shared filesystem; the
  * message carries only (partition, path, row count) — O(1) regardless
  * of how many rows the task wrote, which is what makes the protocol
  * honest at corpus scale (the r11 payload-in-message transport was
  * documented bounded-dim-only). partitionId keeps the published order
  * deterministic across commit-message arrival order. */
case class GraftMemStagedCommit(partitionId: Int, path: String, nRows: Long)
    extends WriterCommitMessage

/** Staging-file transport: each task streams its encoded rows to one
  * file under the staging root (java.io.tmpdir — the local stand-in for
  * the HDFS/S3 staging prefix a durable sink would use; in local mode
  * tasks and driver genuinely share it, which is the same visibility
  * contract). Single-JVM scope is a property of the whole MemSink, not
  * of this transport: GraftMemStore itself is a JVM-singleton map, so a
  * multi-JVM cluster could never read these tables in the first place —
  * a durable port swaps BOTH the store and this root for shared
  * storage. Task memory stays O(1): rows append to the stream in
  * [[GraftMemStagedFile.BlockBytes]] blocks as they arrive, never
  * buffered whole. Speculative twins write DIFFERENT files
  * (uuid-named); only the attempt Spark's commit coordinator admits
  * reaches the driver commit — the loser's abort deletes its own file.
  * A file is the writer's codec header followed by its rows. */
private[graft] object GraftMemStaging {
  private val root = {
    val r = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_memsink_stage")
    java.nio.file.Files.createDirectories(r)
    r
  }
  def newPath(): String =
    root.resolve(java.util.UUID.randomUUID().toString + ".bin").toString
  /** The codec in the file's header and its `nRows` rows as one block. */
  private def load(path: String, nRows: Long): (GraftMemCodec, GraftMemBlock) = {
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val codec = GraftMemCodec.fromHeader(bytes)
    (codec, GraftMemBlock.of(bytes, codec.headerBytes, bytes.length, nRows))
  }
  /** The staged rows, decoded to JVM values. */
  def read(path: String, nRows: Long): Array[Array[Any]] =
    // a zero-row task stages no file at all — its manifest is pure form
    if (nRows == 0L) Array.empty
    else { val (codec, block) = load(path, nRows); codec.values(block) }
  /** The staged rows of `ms` as blocks in the caller's (partitionId)
    * order, for a table of `codec`'s types. No row is decoded: the commit
    * publishes the bytes the tasks encoded. */
  def blocks(ms: Array[GraftMemStagedCommit], codec: GraftMemCodec): Seq[GraftMemBlock] =
    ms.toSeq.filter(_.nRows > 0L).map { m =>
      val (staged, block) = load(m.path, m.nRows)
      if (!staged.types.sameElements(codec.types))
        throw new IllegalStateException(s"${m.path} holds ${staged.types.mkString(",")} rows, " +
          s"the table ${codec.types.mkString(",")}")
      block
    }
  def delete(path: String): Unit = {
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(path)); ()
  }
}

/** The binary row codec of graft mem tables, typed by the table schema
  * (the "codec arms" the createTable error message references). A row is
  *   [int32 body length][null bitmap, ⌈n/8⌉ bytes][each non-null value]
  * with values in field order: long and double 8 bytes (double as raw
  * bits, so NaN payloads and -0.0 survive), int 4, boolean 1, string an
  * int32 byte count and its UTF-8 bytes. Native byte order: the bytes
  * never leave the JVM that wrote them. Tasks encode each row once,
  * straight from the InternalRow; the store keeps the bytes, a scan
  * slices them into its partitions, and the reader decodes straight to
  * InternalRow, its strings pointing into the partition's bytes. */
private[graft] final class GraftMemCodec(val types: Array[DataType]) {
  import GraftMemCodec._
  import org.apache.spark.unsafe.Platform
  import Platform.BYTE_ARRAY_OFFSET
  private val n = types.length
  private val kinds = types.map(Types.indexOf(_))
  require(!kinds.contains(-1), s"unsupported codec type in ${types.mkString(",")}")
  private val nullBytes = (n + 7) / 8

  /** Header of a staged file: the field count and each field's kind. */
  def headerBytes: Int = 4 + n
  def header(out: GraftMemBuffer): Unit = {
    out.putInt(n)
    kinds.foreach(k => out.putByte(k.toByte))
  }

  /** Appends `row`, read through its typed getters, to `out`. */
  def encode(row: InternalRow, out: GraftMemBuffer): Unit = {
    val start = out.reserve(4 + nullBytes)
    var i = 0
    while (i < n) {
      if (row.isNullAt(i)) out.setBit(start + 4, i)
      else (kinds(i): @annotation.switch) match {
        case LongKind => out.putLong(row.getLong(i))
        case IntKind => out.putInt(row.getInt(i))
        case DoubleKind => out.putDouble(row.getDouble(i))
        case BooleanKind => out.putByte(if (row.getBoolean(i)) 1 else 0)
        case StringKind => out.putUTF8(row.getUTF8String(i))
      }
      i += 1
    }
    out.putIntAt(start, out.size - start - 4)
  }
  /** Appends a row of JVM values (strings as `String`). */
  def encode(vals: Array[Any], out: GraftMemBuffer): Unit =
    encode(new GenericInternalRow(vals.map {
      case v: String => UTF8String.fromString(v)
      case v => v
    }), out)
  def block(rows: Array[Array[Any]]): GraftMemBlock = {
    val out = new GraftMemBuffer
    rows.foreach(encode(_, out))
    out.block(0)
  }

  /** Decodes the row at `off` of `b` into `out`: stored field i lands in
    * slot `slots(i)`, or nowhere when that is negative; null fields leave
    * their slot untouched. Returns the offset past the row. */
  def decode(b: Array[Byte], off: Int, slots: Array[Int], out: InternalRow): Int = {
    val base = BYTE_ARRAY_OFFSET + off + 4
    var p = off + 4 + nullBytes
    var i = 0
    while (i < n) {
      if ((Platform.getByte(b, base + (i >> 3)) & (1 << (i & 7))) == 0) {
        val slot = slots(i)
        val at = BYTE_ARRAY_OFFSET + p
        (kinds(i): @annotation.switch) match {
          case LongKind => if (slot >= 0) out.setLong(slot, Platform.getLong(b, at)); p += 8
          case IntKind => if (slot >= 0) out.setInt(slot, Platform.getInt(b, at)); p += 4
          case DoubleKind => if (slot >= 0) out.setDouble(slot, Platform.getDouble(b, at)); p += 8
          case BooleanKind => if (slot >= 0) out.setBoolean(slot, Platform.getByte(b, at) != 0); p += 1
          case StringKind =>
            val len = Platform.getInt(b, at)
            if (slot >= 0) out.update(slot, UTF8String.fromAddress(b, at + 4, len))
            p += 4 + len
        }
      }
      i += 1
    }
    off + 4 + Platform.getInt(b, BYTE_ARRAY_OFFSET + off)
  }
  /** Every row of `block`, decoded to JVM values (strings as `String`). */
  def values(block: GraftMemBlock): Array[Array[Any]] = {
    val slots = Array.range(0, n)
    Array.tabulate(block.nRows) { r =>
      val row = new GenericInternalRow(n)
      decode(block.bytes, block.starts(r), slots, row)
      row.values.map {
        case v: UTF8String => v.toString
        case v => v
      }
    }
  }
}

private[graft] object GraftMemCodec {
  /** The supported column types; a type's index is its kind code. */
  val Types: Array[DataType] = Array(LongType, IntegerType, DoubleType, BooleanType, StringType)
  private final val LongKind = 0
  private final val IntKind = 1
  private final val DoubleKind = 2
  private final val BooleanKind = 3
  private final val StringKind = 4

  def apply(schema: StructType): GraftMemCodec = new GraftMemCodec(schema.fields.map(_.dataType))
  /** A delta changelog entry: (op "D"/"U"/"I", rowpos or null) ++ the
    * table row (all null for a delete). */
  def changelog(schema: StructType): GraftMemCodec =
    new GraftMemCodec(Array[DataType](StringType, LongType) ++ schema.fields.map(_.dataType))
  def fromHeader(b: Array[Byte]): GraftMemCodec = {
    val in = java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.nativeOrder)
    val n = in.getInt
    require(n >= 0 && b.length >= 4 + n, s"corrupt staged-file header (field count $n)")
    new GraftMemCodec(Array.tabulate(n)(i => Types(b(4 + i).toInt)))
  }
  /** One field of `row` copied to a JVM value (the layout audit's view). */
  def value(dt: DataType, row: InternalRow, i: Int): Any =
    if (row.isNullAt(i)) null else dt match {
      case LongType => row.getLong(i)
      case IntegerType => row.getInt(i)
      case DoubleType => row.getDouble(i)
      case BooleanType => row.getBoolean(i)
      case StringType => row.getUTF8String(i).toString
      case other => throw new IllegalStateException(s"unsupported codec type $other")
    }
}

/** Encoded rows: row r spans `bytes[starts(r), starts(r + 1))`. */
private[graft] final class GraftMemBlock(val bytes: Array[Byte], val starts: Array[Int]) {
  def nRows: Int = starts.length - 1
}

private[graft] object GraftMemBlock {
  import org.apache.spark.unsafe.Platform
  /** The rows laid end to end in `bytes[from, to)`, found by hopping their
    * length prefixes. A count other than `expect` (when given) or a row
    * running past `to` fails loudly: the file was cut short. */
  def of(bytes: Array[Byte], from: Int, to: Int, expect: Long = -1L): GraftMemBlock = {
    def next(off: Int): Int = {
      val end = off + 4 + Platform.getInt(bytes, Platform.BYTE_ARRAY_OFFSET + off)
      if (off + 4 > to || end > to || end < off + 4)
        throw new IllegalStateException(s"encoded row at byte $off runs past $to")
      end
    }
    var count = 0
    var off = from
    while (off < to) { off = next(off); count += 1 }
    if (expect >= 0L && count != expect)
      throw new IllegalStateException(s"expected $expect encoded rows, found $count")
    val starts = new Array[Int](count + 1)
    starts(0) = from
    var r = 0
    while (r < count) { starts(r + 1) = next(starts(r)); r += 1 }
    new GraftMemBlock(bytes, starts)
  }
  /** Rows `[from, until)` of `blocks` laid end to end, as one array. */
  def slice(blocks: Seq[GraftMemBlock], from: Long, until: Long): Array[Byte] = {
    val pieces = Array.newBuilder[(GraftMemBlock, Int, Int)]
    var first = 0L
    blocks.foreach { b =>
      val lo = math.max(from, first); val hi = math.min(until, first + b.nRows)
      if (hi > lo) pieces += ((b, b.starts((lo - first).toInt), b.starts((hi - first).toInt)))
      first += b.nRows
    }
    val ps = pieces.result()
    val out = new Array[Byte](ps.map { case (_, a, z) => z - a }.sum)
    var at = 0
    ps.foreach { case (b, a, z) => System.arraycopy(b.bytes, a, out, at, z - a); at += z - a }
    out
  }
}

/** A growable byte buffer with the codec's native-order writes. */
private[graft] final class GraftMemBuffer {
  import org.apache.spark.unsafe.Platform
  import Platform.BYTE_ARRAY_OFFSET
  private var bytes = new Array[Byte](GraftMemStagedFile.BlockBytes + 1024)
  private var len = 0
  def size: Int = len
  private def grow(k: Int): Unit =
    if (len + k > bytes.length)
      bytes = java.util.Arrays.copyOf(bytes, math.max(bytes.length * 2, len + k))
  /** Appends `k` zero bytes; returns where they start. */
  def reserve(k: Int): Int = {
    grow(k); java.util.Arrays.fill(bytes, len, len + k, 0.toByte)
    len += k; len - k
  }
  def setBit(at: Int, i: Int): Unit = bytes(at + (i >> 3)) = (bytes(at + (i >> 3)) | (1 << (i & 7))).toByte
  def putByte(v: Byte): Unit = { grow(1); bytes(len) = v; len += 1 }
  def putInt(v: Int): Unit = { grow(4); Platform.putInt(bytes, BYTE_ARRAY_OFFSET + len, v); len += 4 }
  def putIntAt(at: Int, v: Int): Unit = Platform.putInt(bytes, BYTE_ARRAY_OFFSET + at, v)
  def putLong(v: Long): Unit = { grow(8); Platform.putLong(bytes, BYTE_ARRAY_OFFSET + len, v); len += 8 }
  def putDouble(v: Double): Unit = { grow(8); Platform.putDouble(bytes, BYTE_ARRAY_OFFSET + len, v); len += 8 }
  def putUTF8(v: UTF8String): Unit = {
    val k = v.numBytes
    putInt(k); grow(k)
    v.writeToMemory(bytes, BYTE_ARRAY_OFFSET + len); len += k
  }
  def putBytes(src: Array[Byte], from: Int, k: Int): Unit = {
    grow(k); System.arraycopy(src, from, bytes, len, k); len += k
  }
  /** The rows written from offset `from` on, as a block over a copy. */
  def block(from: Int): GraftMemBlock =
    GraftMemBlock.of(java.util.Arrays.copyOfRange(bytes, from, len), 0, len - from)
  /** Writes the buffered bytes to `out` and empties the buffer. */
  def writeTo(out: java.io.OutputStream): Unit = { out.write(bytes, 0, len); len = 0 }
}

/** Shared task-side staging stream (one implementation for the data and
  * delta writers): entries are encoded into a buffer that goes to the
  * staging file a block at a time (task memory O(1)), the stream opens
  * lazily so a task that writes nothing stages nothing, and abort
  * deletes the file. */
private[sources] final class GraftMemStagedFile(codec: GraftMemCodec) {
  private var path: String = _
  private var out: java.io.FileOutputStream = _
  private val buf = new GraftMemBuffer
  private var n = 0L
  def emit(row: InternalRow): Unit = {
    if (out == null) {
      path = GraftMemStaging.newPath()
      out = new java.io.FileOutputStream(path)
      codec.header(buf)
    }
    codec.encode(row, buf); n += 1
    if (buf.size >= GraftMemStagedFile.BlockBytes) buf.writeTo(out)
  }
  def manifest(partitionId: Int): GraftMemStagedCommit = {
    if (out != null) { buf.writeTo(out); out.close() }
    GraftMemStagedCommit(partitionId,
      if (path == null) GraftMemStaging.newPath() else path, n)
  }
  def abort(): Unit = {
    if (out != null) { out.close(); GraftMemStaging.delete(path) }
  }
}

private[graft] object GraftMemStagedFile {
  /** Bytes a task buffers before writing them to its staging file. */
  val BlockBytes: Int = 64 << 10
}

class GraftMemBatchWrite(key: String, schema: StructType, truncateFirst: Boolean,
                         audit: Option[GraftMemAuditCols] = None)
    extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new GraftMemWriterFactory(schema, audit)
  /** The atomic publish: until this runs, no reader can see any staged
    * row; after it, every partition is visible. The driver reads each
    * manifest's staged file in partitionId order (the stored order is a
    * pure function of the input, not of message arrival), swaps the
    * table in one reference write, then deletes the staging files. */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val ms = messages.collect { case m: GraftMemStagedCommit => m }.sortBy(_.partitionId)
    val blocks = GraftMemStaging.blocks(ms, GraftMemCodec(schema))
    GraftMemStore.publishBlocks(key, schema, blocks, truncateFirst)
    ms.foreach(m => GraftMemStaging.delete(m.path))
  }
  /** Nothing was published; aborting deletes the staged files so a
    * failed job leaves no garbage behind. */
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.collect { case m: GraftMemStagedCommit => m }
      .foreach(m => GraftMemStaging.delete(m.path))
}

/** The STREAMING side of the protocol: one commit per micro-batch EPOCH.
  * The engine's checkpoint can re-deliver an epoch whose data ran but
  * whose checkpoint commit was lost with a crash — `commit(epochId, …)`
  * consults the per-table committed-epoch set and makes the replay a
  * whole-batch no-op, which is the exactly-once contract every
  * idempotent streaming sink implements (the V2-protocol twin of
  * `stream_idempotent_sink`'s foreachBatch marker files). Task-level
  * staging and atomicity are identical to the batch path. */
class GraftMemStreamingWrite(key: String, schema: StructType,
                             queryId: String, truncateEachEpoch: Boolean = false)
    extends StreamingWrite {
  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val batchFactory = new GraftMemWriterFactory(schema)
    new StreamingDataWriterFactory {
      override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
          : DataWriter[InternalRow] = batchFactory.createWriter(partitionId, taskId)
    }
  }
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    // Ledger token = (query, epoch): epoch ids restart per query, so the
    // query id is what separates "this batch already ran" (a replay —
    // swallow) from "a NEW query's batch 0 against the same table"
    // (legitimate — apply). Checkpoint-stability of the query id across
    // restarts is pinned by Round12Suite's restart test. ORDER matters
    // (r12 review fix): the fallible staged-file read runs BEFORE the
    // ledger mark — if the read throws, nothing is marked and the
    // engine's retry re-applies cleanly (the staged files are only
    // deleted after a successful publish or on a recognized replay,
    // whose tasks wrote fresh staging data that must not leak).
    val ms = messages.collect { case m: GraftMemStagedCommit => m }.sortBy(_.partitionId)
    val token = s"$queryId#$epochId"
    if (!GraftMemStore.epochCommitted(key, token)) {
      val blocks = GraftMemStaging.blocks(ms, GraftMemCodec(schema))
      GraftMemStore.publishBlocks(key, schema, blocks, truncate = truncateEachEpoch)
      GraftMemStore.beginEpoch(key, token)
    }
    ms.foreach(m => GraftMemStaging.delete(m.path))
  }
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    messages.collect { case m: GraftMemStagedCommit => m }
      .foreach(m => GraftMemStaging.delete(m.path))
}

class GraftMemWriterFactory(schema: StructType,
                            audit: Option[GraftMemAuditCols] = None)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    val types = schema.fields.map(_.dataType)
    new DataWriter[InternalRow] {
      // File-backed staging (r12): rows STREAM to the task's staging file
      // as they arrive (GraftMemStagedFile — task memory O(1), O(1)
      // manifest message, abort deletes the file).
      private val staged = new GraftMemStagedFile(GraftMemCodec(schema))
      // Layout audit (r13, distribution/ordering writes only): O(1) state
      // per row — the previous ordering value and a capped cluster-key
      // set; overflow past the cap records None rather than growing.
      private var n = 0L
      private var sortedSoFar = true
      private var prevSort: Any = _
      private var clusterKeys: scala.collection.mutable.Set[Any] =
        if (audit.exists(_.clusterIdx.isDefined)) scala.collection.mutable.Set[Any]() else null
      private var clusterOverflow = false
      @annotation.nowarn("cat=other-match-analysis")
      private def cmpVals(a: Any, b: Any): Int = (a, b) match {
        case (null, null) => 0
        case (null, _) => -1 // NULLS_FIRST
        case (_, null) => 1
        case (x: Long, y: Long) => java.lang.Long.compare(x, y)
        case (x: Int, y: Int) => java.lang.Integer.compare(x, y)
        case (x: Double, y: Double) => java.lang.Double.compare(x, y)
        case (x: String, y: String) => x.compareTo(y)
        case (x: Boolean, y: Boolean) => java.lang.Boolean.compare(x, y)
      }
      override def write(row: InternalRow): Unit = {
        audit.foreach { a =>
          a.sortIdx.foreach { i =>
            val v = GraftMemCodec.value(types(i), row, i)
            if (n > 0L && cmpVals(prevSort, v) > 0) sortedSoFar = false
            prevSort = v
          }
          a.clusterIdx.foreach { i =>
            if (!clusterOverflow) {
              clusterKeys += GraftMemCodec.value(types(i), row, i)
              if (clusterKeys.size > 64) { clusterOverflow = true; clusterKeys = null }
            }
          }
          n += 1L
        }
        staged.emit(row)
      }
      override def commit(): WriterCommitMessage = {
        audit.foreach(a => GraftMemWriteAudit.record(a.key, partitionId,
          GraftMemWriteAudit.Part(n, sortedSoFar,
            if (clusterOverflow || clusterKeys == null) None else Some(clusterKeys.toSet))))
        staged.manifest(partitionId)
      }
      override def abort(): Unit = staged.abort()
      override def close(): Unit = ()
    }
  }
}

// ----------------------------------------------------------------- read

class GraftMemScanBuilder(key: String)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = GraftMemStore.schema(key)
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
  override def build(): Scan = new GraftMemScan(key, required)
}

class GraftMemScan(key: String, required: StructType) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftMemScan $key ReadSchema: ${required.fieldNames.mkString("struct<", ",", ">")}"
  /** Snapshot the committed rows at PLANNING time (repeatable reads even
    * if a concurrent write republishes) and slice them into partitions.
    * Each InputPartition CARRIES its slice as encoded bytes, copied out
    * of the store's blocks without decoding — self-contained and
    * serializable to real executors; only viable because this store
    * holds bounded dims (see class doc). Column pruning projects inside
    * the reader, so a 1-column read of a 5-column table materializes one
    * value per row. */
  override def planInputPartitions(): Array[InputPartition] = {
    // One atomic snapshot for BOTH schema and rows (r11 advice): the
    // fieldIndex mapping below must be computed against the exact
    // generation of the table the row slices come from. The metadata
    // columns are index sentinels, not stored per row: -1 = `_group`
    // (the reader synthesizes the group ordinal — 0, one-group table),
    // -2 = `_rowpos` (the slice's start offset + local index — the
    // snapshot-stable row id delta operations key on).
    val (schema, blocks) = GraftMemStore.snapshot(key)
    val idx = required.fieldNames.map {
      case "_group" => -1
      case "_rowpos" => -2
      case n => schema.fieldIndex(n)
    }
    val types = schema.fields.map(_.dataType)
    val n = blocks.iterator.map(_.nRows.toLong).sum
    // Slice count scales with the snapshot (r13: the fixed `min(4, n)`
    // made every readback of a corpus-sized table a 4-task scan — 2.5M
    // rows per task at sf10; the census readback alone cost 25 s of
    // stream_dsv2_sink's 69 s sf10 point). Target ~256k rows per slice,
    // capped at 64: small tables keep the 4-way shape, corpus-sized ones
    // parallelize across the executor pool and each task binary stays
    // ~MBs.
    val slices = math.max(math.min(4L, n), math.min(64L, n / 262144)).toInt
    (0 until slices).flatMap { i =>
      val a = n * i / slices
      val b = n * (i + 1) / slices
      if (b > a) Some(GraftMemPartition(types, GraftMemBlock.slice(blocks, a, b),
        (b - a).toInt, idx, a))
      else None
    }.toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new GraftMemReaderFactory(required)
}

/** One scan slice: `nRows` rows encoded with the table's `types`, and the
  * stored field (or metadata sentinel) behind each output column. */
case class GraftMemPartition(types: Array[DataType], bytes: Array[Byte], nRows: Int,
                             columns: Array[Int], startPos: Long = 0L)
    extends InputPartition

class GraftMemReaderFactory(required: StructType) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftMemPartition]
    val codec = new GraftMemCodec(p.types)
    // the output slot of each stored field (-1: not read)
    val slots = Array.fill(p.types.length)(-1)
    p.columns.zipWithIndex.foreach { case (ci, c) =>
      if (ci >= 0) {
        require(slots(ci) < 0, s"stored column $ci read twice by ${required.simpleString}")
        slots(ci) = c
      }
    }
    new PartitionReader[InternalRow] {
      private var i = -1
      private var off = 0
      private var row: GenericInternalRow = _
      override def next(): Boolean = {
        i += 1
        if (i >= p.nRows) return false
        row = new GenericInternalRow(p.columns.length)
        off = codec.decode(p.bytes, off, slots, row)
        var c = 0
        while (c < p.columns.length) {
          // Metadata sentinels (not stored): -1 = _group (ordinal 0, the
          // single replacement group this snapshot store forms), -2 =
          // _rowpos (snapshot-stable row id = slice start + local index).
          p.columns(c) match {
            case -1 => row.setLong(c, 0L)
            case -2 => row.setLong(c, p.startPos + i)
            case _ =>
          }
          c += 1
        }
        true
      }
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
  }
}
