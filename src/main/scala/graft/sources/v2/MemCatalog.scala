package graft.sources.v2

import java.util

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 TABLE CATALOG (SURVEY §2 G13) — the full-catalog
  * pillar that G1–G12's TableProviders sidestep: DDL and DML route
  * through the connector catalog API end to end —
  *
  *   CREATE TABLE graft_mem.ns.t (…)   → `TableCatalog.createTable`
  *   INSERT INTO graft_mem.ns.t …      → `SupportsWrite` (two-phase:
  *     task partials carry rows, the driver commit publishes — a
  *     failed job appends NOTHING, same contract as G4)
  *   SELECT … FROM graft_mem.ns.t      → `SupportsRead` batch scan
  *   DELETE FROM graft_mem.ns.t WHERE… → `SupportsDelete.deleteWhere`
  *     with V1 source filters; `canDeleteWhere` REFUSES predicates it
  *     cannot evaluate exactly (the metadata-delete contract: Spark
  *     must fail the statement rather than half-delete — Iceberg's
  *     metadata-only delete boundary)
  *   DROP TABLE                        → `dropTable`
  *
  * Storage is a driver-side registry keyed by catalog name; scan
  * partitions snapshot the rows at planning time (readers never see a
  * concurrent delete). Atomic types only — the point is the catalog
  * CONTRACT, not a storage engine.
  */
class MemCatalog extends TableCatalog with ProcedureCatalog {
  private var catName = "graft_mem"
  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catName = name
  override def name(): String = catName

  private def key(ident: Identifier): String =
    (catName +: ident.namespace() :+ ident.name()).mkString(".")

  override def listTables(namespace: Array[String]): Array[Identifier] =
    MemStore.tables.keys
      .filter(_.startsWith((catName +: namespace).mkString(".") + "."))
      .map { k =>
        val parts = k.split('.').drop(1)
        Identifier.of(parts.init, parts.last)
      }.toArray

  override def loadTable(ident: Identifier): Table =
    MemStore.tables.get(key(ident)) match {
      case Some(t) if t.rowLevel => new MemTableRowLevel(key(ident), t.schema)
      case Some(t)               => new MemTable(key(ident), t.schema)
      case None                  => throw new NoSuchTableException(ident)
    }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    // 'rowlevel'='true' opts the table into the G20 group-based
    // UPDATE/MERGE rewrite path; without it the table keeps the G13
    // metadata-delete-or-refuse contract (adding row-level support
    // unconditionally would turn the canDeleteWhere REFUSAL into a
    // silent rewrite fallback — a contract change, so it is opt-in)
    val rl = properties.getOrDefault("rowlevel", "false") == "true"
    // atomic claim: a contains-then-put race would let two concurrent
    // CREATEs both succeed (the loser's Stored silently replaced)
    if (MemStore.tables.putIfAbsent(key(ident), MemStore.Stored(schema, rl)).isDefined)
      throw new TableAlreadyExistsException(ident)
    if (rl) new MemTableRowLevel(key(ident), schema)
    else new MemTable(key(ident), schema)
  }

  /** G21: schema evolution — ADD COLUMNS only (the append-safe change:
    * existing rows back-fill NULL, no rewrite; drops/renames/retypes
    * would orphan or reinterpret stored positions and are refused
    * loudly). The store swaps to a new Stored carrying the widened
    * schema and null-pads the rows IN PLACE under the Stored's lock —
    * the Stored object is never swapped, so a concurrent insert commit
    * that already fetched it cannot append to an orphaned copy (the
    * lost-write race a copy-and-replace design has). Concurrent
    * readers hold their planning-time snapshot (the same isolation the
    * scan already promises). */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val k = key(ident)
    val st = MemStore.tables.getOrElse(k, throw new NoSuchTableException(ident))
    val adds = changes.map {
      case a: TableChange.AddColumn =>
        require(a.fieldNames().length == 1,
          "nested ADD COLUMN not supported")
        StructField(a.fieldNames()(0), a.dataType(), nullable = true)
      case other =>
        throw new UnsupportedOperationException(
          s"ALTER TABLE change not supported: $other")
    }
    st.synchronized {
      val widened = StructType(st.schema.fields ++ adds)
      // pad into FRESH row arrays (in-flight scans captured the old
      // arrays at planning time and must keep seeing the old width)
      var i = 0
      while (i < st.rows.length) {
        st.rows(i) = st.rows(i) ++ Array.fill[Any](adds.length)(null)
        i += 1
      }
      st.schema = widened
      // G22: the snapshot LOG survives schema evolution — old versions
      // keep their old schema (each Snapshot carries its own), and the
      // post-ALTER state publishes as a fresh snapshot
      MemStore.record(st)
      if (st.rowLevel) new MemTableRowLevel(k, widened)
      else new MemTable(k, widened)
    }
  }

  /** G22: `SELECT … FROM t VERSION AS OF n` — Spark routes the version
    * string here; resolve it against the snapshot log and hand back a
    * read-only table pinned to that committed state. Unknown versions
    * refuse loudly (a silent fallback to current would be a wrong-
    * results class).
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val st = MemStore.tables.getOrElse(key(ident),
      throw new NoSuchTableException(ident))
    val v =
      try version.toLong
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"version must be a snapshot number, got '$version'") }
    val snap = st.synchronized {
      // G22b: an expired version refuses with an explicit "expired"
      // error — distinct from "never existed", never a silent fallback
      if (v >= 1 && v <= st.expiredBelow)
        throw new IllegalArgumentException(
          s"table ${key(ident)} snapshot $v is expired " +
            s"(retention kept versions > ${st.expiredBelow})")
      st.snapshots.find(_.version == v)
    }
      .getOrElse(throw new IllegalArgumentException(
        s"table ${key(ident)} has no snapshot $v (log: " +
          st.synchronized(
            s"${st.snapshots.headOption.map(_.version).getOrElse(0L)}.." +
            s"${st.snapshots.lastOption.map(_.version).getOrElse(0L)}") + ")"))
    new MemTableSnapshot(key(ident), snap)
  }

  /** G22: `TIMESTAMP AS OF` — Spark passes micros; latest snapshot
    * at-or-before wins (the Iceberg rule). Wall-clock-based, so the
    * hash gate pins only the VERSION path; this one is spec-covered.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val st = MemStore.tables.getOrElse(key(ident),
      throw new NoSuchTableException(ident))
    // filter, not takeWhile: snapshot timestamps come from the wall
    // clock, which an NTP step can move backwards — takeWhile would
    // stop at the first violation and miss later qualifying snapshots
    val snap = st.synchronized { st.snapshots.filter(_.tsMicros <= timestamp).lastOption }
      .getOrElse(throw new IllegalArgumentException(
        s"table ${key(ident)} has no snapshot at or before $timestamp"))
    new MemTableSnapshot(key(ident), snap)
  }

  override def dropTable(ident: Identifier): Boolean =
    MemStore.tables.remove(key(ident)).isDefined

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("RENAME TABLE not supported")

  // ---- G22b: stored procedures (the Iceberg `CALL catalog.system.…`
  // maintenance surface, through Spark's ProcedureCatalog API) ----
  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(Array("system"), "expire_snapshots"))

  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    if (!(ident.namespace().sameElements(Array("system")) &&
          ident.name() == "expire_snapshots"))
      throw new IllegalArgumentException(
        s"unknown procedure: ${(ident.namespace() :+ ident.name()).mkString(".")} " +
          "(this catalog serves system.expire_snapshots)")
    new ExpireSnapshotsProcedure(catName)
  }
}

/** G22b: snapshot RETENTION — the other half of time travel every lake
  * format ships (Iceberg `expire_snapshots`): drop all but the last
  * `keep_last` snapshots of a table's log. Invoked through the DSv2
  * procedure surface: `CALL graft_mem.system.expire_snapshots('ns.t',
  * keep_last)`. Guarantees: `keep_last >= 1` (the min-retained rule —
  * a log can never be emptied), expiry only ever drops the OLDEST
  * prefix (retained versions stay contiguous up to current), and a
  * later `VERSION AS OF` on an expired version REFUSES with an
  * explicit "expired" error — distinct from "never existed" (silent
  * fallback to current would be a wrong-results class). Returns one
  * row: (expired_count, retained_from, retained_to).
  */
final class ExpireSnapshotsProcedure(catName: String) extends UnboundProcedure {
  override def name(): String = "expire_snapshots"
  override def description(): String =
    "expire all but the last `keep_last` snapshots of `table`"

  override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
    override def name(): String = "expire_snapshots"
    override def description(): String = ExpireSnapshotsProcedure.this.description()
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("table name relative to this catalog, e.g. 'ns.t'").build(),
      ProcedureParameter.in("keep_last", IntegerType)
        .comment("how many trailing snapshots to retain (>= 1)").build())
    override def isDeterministic: Boolean = false

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val tbl = input.getUTF8String(0).toString
      val keep = input.getInt(1)
      require(keep >= 1,
        s"keep_last must be >= 1 (min-retained guarantee), got $keep")
      val key = s"$catName.$tbl"
      val st = MemStore.tables.getOrElse(key,
        throw new IllegalArgumentException(s"no such table: $key"))
      val (expired, lo, hi) = st.synchronized {
        val drop = math.max(0, st.snapshots.size - keep)
        if (drop > 0) {
          st.expiredBelow = math.max(st.expiredBelow, st.snapshots(drop - 1).version)
          st.snapshots.remove(0, drop)
        }
        (drop.toLong,
          st.snapshots.headOption.map(_.version).getOrElse(0L),
          st.snapshots.lastOption.map(_.version).getOrElse(0L))
      }
      val schema = StructType(Seq(
        StructField("expired_count", LongType, nullable = false),
        StructField("retained_from", LongType, nullable = false),
        StructField("retained_to", LongType, nullable = false)))
      val result: Scan = new LocalScan {
        override def rows(): Array[InternalRow] =
          Array(new GenericInternalRow(Array[Any](expired, lo, hi)))
        override def readSchema(): StructType = schema
      }
      java.util.Collections.singletonList(result).iterator()
    }
  }
}

object MemStore {
  /** One committed table state for time travel (G22): version numbers
    * are 1-based per COMMIT (Iceberg's snapshot log shape — CREATE
    * itself publishes nothing). A production catalog records manifests;
    * this contract registry copies the rows, which is exactly as
    * expensive as the registry itself and keeps the semantics honest.
    */
  final case class Snapshot(version: Long, schema: StructType,
                            rows: Array[Array[Any]], tsMicros: Long)

  /** Rows live as external JVM values (Long/Int/Double/String/Boolean/
    * null) so partitions can ship them to executors untouched. Plain
    * class (not a case class): the object is the lock AND the identity
    * — ALTER mutates `schema` in place under `synchronized` rather
    * than swapping the instance, so writers never commit to an orphan. */
  final class Stored(@volatile var schema: StructType,
                     val rowLevel: Boolean = false) {
    val rows = new scala.collection.mutable.ArrayBuffer[Array[Any]]()
    val snapshots = new scala.collection.mutable.ArrayBuffer[Snapshot]()
    // G22b: highest EXPIRED version — lets time travel refuse an
    // expired version with an "expired" error, distinct from a version
    // that never existed
    var expiredBelow: Long = 0L
  }
  object Stored {
    def apply(schema: StructType, rowLevel: Boolean = false): Stored =
      new Stored(schema, rowLevel)
  }

  /** Record the CURRENT state as the next snapshot — call under the
    * Stored's lock, after every committed mutation (insert commit,
    * deleteWhere, row-level replace, ALTER). Versions are MONOTONIC
    * across expiry: the next version continues from the last retained
    * (or last expired) version, never from the log's current length —
    * size-derived numbering would reissue an expired version number
    * and corrupt time travel.
    */
  def record(st: Stored): Unit = {
    val next = math.max(
      st.snapshots.lastOption.map(_.version).getOrElse(0L),
      st.expiredBelow) + 1L
    st.snapshots += Snapshot(next, st.schema,
      st.rows.map(_.clone).toArray, System.currentTimeMillis() * 1000L)
  }

  val tables = TrieMap.empty[String, Stored]
}

/** G22: a read-only table pinned to one time-travel snapshot — BATCH_READ
  * only (writing through `VERSION AS OF` is not a thing; Spark won't
  * plan it against a capability-less writer either).
  */
final class MemTableSnapshot(baseKey: String, snap: MemStore.Snapshot)
    extends Table with SupportsRead {
  override def name(): String = s"$baseKey@v${snap.version}"
  override def schema(): StructType = snap.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = snap.schema
        override def toBatch: Batch = new Batch {
          override def planInputPartitions(): Array[InputPartition] =
            Array(MemPartition(snap.rows))
          override def createReaderFactory(): PartitionReaderFactory =
            new MemReaderFactory
        }
      }
    }
}

class MemTable(protected val storeKey: String,
               protected val tableSchema: StructType)
    extends Table with SupportsRead with SupportsWrite with SupportsDelete {
  override def name(): String = storeKey
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE)

  // ---- read ----
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = tableSchema
        override def toBatch: Batch = new Batch {
          override def planInputPartitions(): Array[InputPartition] = {
            // snapshot at planning time: readers are isolated from
            // concurrent DML on the registry (copy under the store
            // lock — toArray racing a commit's ++= could tear)
            val st = MemStore.tables(storeKey)
            val snap = st.synchronized { st.rows.toArray }
            Array(MemPartition(snap))
          }
          override def createReaderFactory(): PartitionReaderFactory =
            new MemReaderFactory
        }
      }
    }

  // ---- write (INSERT INTO ... append) ----
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new BatchWrite {
          override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
            MemWriterFactory(tableSchema)
          override def commit(messages: Array[WriterCommitMessage]): Unit = {
            val st = MemStore.tables(storeKey)
            st.synchronized {
              messages.foreach {
                case MemRowsPartial(rows) => st.rows ++= rows
                case _ => ()
              }
              MemStore.record(st) // G22 snapshot per committed insert
            }
          }
          override def abort(messages: Array[WriterCommitMessage]): Unit = ()
        }
      }
    }

  // ---- delete (DELETE FROM ... WHERE) ----
  private def eval(f: Filter, row: Array[Any]): Boolean = {
    def v(col: String): Any = row(tableSchema.fieldIndex(col))
    def cmp(col: String, x: Any): Int = {
      val a = v(col)
      (a, x) match {
        case (null, _) => throw new IllegalStateException("null compare")
        case (a: Long, b: Number)   => java.lang.Long.compare(a, b.longValue())
        case (a: Int, b: Number)    => java.lang.Long.compare(a.toLong, b.longValue())
        case (a: Double, b: Number) => java.lang.Double.compare(a, b.doubleValue())
        case (a: String, b: String) => a.compareTo(b)
        case _ => throw new IllegalStateException(s"incomparable: $a vs $x")
      }
    }
    f match {
      case EqualTo(c, x)            => v(c) != null && cmp(c, x) == 0
      case LessThan(c, x)           => v(c) != null && cmp(c, x) < 0
      case LessThanOrEqual(c, x)    => v(c) != null && cmp(c, x) <= 0
      case GreaterThan(c, x)        => v(c) != null && cmp(c, x) > 0
      case GreaterThanOrEqual(c, x) => v(c) != null && cmp(c, x) >= 0
      // a NULL comparand in the IN-list never matches (SQL: x IN (1,
      // NULL) is TRUE iff x = 1, else NULL → filtered) — cmp would
      // throw on it, breaking the canDeleteWhere-accepted contract
      case In(c, xs)                => v(c) != null && xs.exists(x => x != null && cmp(c, x) == 0)
      case IsNull(c)                => v(c) == null
      case IsNotNull(c)             => v(c) != null
      case And(l, r)                => eval(l, row) && eval(r, row)
      case Or(l, r)                 => eval(l, row) || eval(r, row)
      case Not(x)                   => !eval(x, row)
      case AlwaysTrue()             => true
      case AlwaysFalse()            => false
      case other => throw new IllegalStateException(s"unsupported: $other")
    }
  }

  private def supported(f: Filter): Boolean = f match {
    case _: EqualTo | _: LessThan | _: LessThanOrEqual | _: GreaterThan |
         _: GreaterThanOrEqual | _: In | _: IsNull | _: IsNotNull |
         _: AlwaysTrue | _: AlwaysFalse => true
    case And(l, r) => supported(l) && supported(r)
    case Or(l, r)  => supported(l) && supported(r)
    case Not(x)    => supported(x)
    case _         => false
  }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(supported)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val st = MemStore.tables(storeKey)
    st.synchronized {
      val keep = st.rows.filterNot(r => filters.forall(f => eval(f, r)))
      st.rows.clear()
      st.rows ++= keep
      MemStore.record(st) // G22 snapshot per committed delete
    }
  }
}

/** G20: the SQL `UPDATE` / `MERGE INTO` surface — the table opts into
  * `SupportsRowLevelOperations`, and Spark's GROUP-BASED rewrite does
  * the heavy lifting: the statement becomes a ReplaceData plan that
  * scans the table through [[RowLevelOperation.newScanBuilder]],
  * computes every surviving row (updated, merged, or untouched) as a
  * distributed query, and hands the replacement rowset to
  * [[RowLevelOperation.newWriteBuilder]] — whose commit REPLACES the
  * affected groups atomically (this table is unpartitioned and
  * reports no metadata attributes, so the group is the whole table:
  * clear-then-append under the store lock, all-or-nothing exactly
  * like the INSERT path). This is the Iceberg copy-on-write shape:
  * the engine owns the join/condition semantics (MERGE matched /
  * not-matched arms, UPDATE SET expressions), the connector owns only
  * scan + replace — which is why ~100 lines buy the full DML matrix.
  */
final class MemTableRowLevel(k: String, s0: StructType)
    extends MemTable(k, s0) with SupportsRowLevelOperations {
  /** G23: row-level tables also advertise AUTOMATIC_SCHEMA_EVOLUTION —
    * the capability `MERGE WITH SCHEMA EVOLUTION` gates on
    * (DataSourceV2Relation.autoSchemaEvolution): the analyzer computes
    * the AddColumn changes from the merge assignments and applies them
    * through the SAME alterTable path G21 contracts (append-safe adds
    * only; anything else still refuses loudly there).
    */
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder =
    new RowLevelOperationBuilder {
      override def build(): RowLevelOperation = new RowLevelOperation {
        override def command(): RowLevelOperation.Command = info.command()
        override def newScanBuilder(
            options: CaseInsensitiveStringMap): ScanBuilder =
          MemTableRowLevel.this.newScanBuilder(options)
        override def newWriteBuilder(lwi: LogicalWriteInfo): WriteBuilder =
          new WriteBuilder {
            override def build(): Write = new Write {
              override def toBatch: BatchWrite = new BatchWrite {
                override def createBatchWriterFactory(
                    pwi: PhysicalWriteInfo): DataWriterFactory = {
                  // the rewrite's row schema is the OPERATION's, not
                  // necessarily the table's field order — decode by
                  // the write schema and permute into table positions
                  val ws = lwi.schema()
                  MemPermWriterFactory(ws,
                    ws.fieldNames.map(tableSchema.fieldIndex),
                    tableSchema.length)
                }
                override def commit(messages: Array[WriterCommitMessage]): Unit = {
                  val st = MemStore.tables(storeKey)
                  st.synchronized {
                    st.rows.clear()
                    messages.foreach {
                      case MemRowsPartial(rows) => st.rows ++= rows
                      case _ => ()
                    }
                    MemStore.record(st) // G22 snapshot per replace commit
                  }
                }
                override def abort(messages: Array[WriterCommitMessage]): Unit = ()
              }
            }
          }
      }
    }
}

final case class MemPartition(rows: Array[Array[Any]]) extends InputPartition

final class MemReaderFactory
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val rows = partition.asInstanceOf[MemPartition].rows
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.length }
      override def get(): InternalRow = {
        val r = rows(i)
        val out = new Array[Any](r.length)
        var j = 0
        while (j < r.length) {
          out(j) = r(j) match {
            case s: String => UTF8String.fromString(s)
            case other     => other
          }
          j += 1
        }
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(out)
      }
      override def close(): Unit = ()
    }
}

final case class MemRowsPartial(rows: Array[Array[Any]])
    extends WriterCommitMessage

/** G20 writer: decodes by the operation's write schema, lands each
  * field at its TABLE position (perm(j) = table index of write field
  * j), so replacement rows store in canonical column order. */
final case class MemPermWriterFactory(writeSchema: StructType,
                                      perm: Array[Int], width: Int)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val buf = new scala.collection.mutable.ArrayBuffer[Array[Any]]()
      override def write(record: InternalRow): Unit = {
        // Spark 4.1's group-based rewrite feeds the writer rows that
        // still CARRY the leading `__row_operation` marker column
        // (measured: numFields = write schema + 1, field 0 = the op
        // literal) — the declared LogicalWriteInfo schema omits it, so
        // the physical ordinal of write field j is j + off. Rows in
        // the replacement set are kept regardless of marker value
        // (delete arms simply don't emit rows).
        val off = record.numFields - writeSchema.length
        require(off == 0 || off == 1,
          s"unexpected row layout: ${record.numFields} fields for ${writeSchema.length}-column write")
        val out = new Array[Any](width)
        var j = 0
        while (j < writeSchema.length) {
          out(perm(j)) =
            if (record.isNullAt(j + off)) null
            else writeSchema(j).dataType match {
              case LongType    => record.getLong(j + off)
              case IntegerType => record.getInt(j + off)
              case DoubleType  => record.getDouble(j + off)
              case BooleanType => record.getBoolean(j + off)
              case StringType  => record.getUTF8String(j + off).toString
              case dt => throw new UnsupportedOperationException(s"type $dt")
            }
          j += 1
        }
        buf += out
      }
      override def commit(): WriterCommitMessage = MemRowsPartial(buf.toArray)
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}

/** Top-level (serializable) factory: ships ONLY the schema to tasks. */
final case class MemWriterFactory(schema: StructType) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new MemWriter(schema)
}

final class MemWriter(schema: StructType) extends DataWriter[InternalRow] {
  private val buf = new scala.collection.mutable.ArrayBuffer[Array[Any]]()
  override def write(record: InternalRow): Unit = {
    val out = new Array[Any](schema.length)
    var j = 0
    while (j < schema.length) {
      out(j) =
        if (record.isNullAt(j)) null
        else schema(j).dataType match {
          case LongType    => record.getLong(j)
          case IntegerType => record.getInt(j)
          case DoubleType  => record.getDouble(j)
          case BooleanType => record.getBoolean(j)
          case StringType  => record.getUTF8String(j).toString
          case dt => throw new UnsupportedOperationException(s"type $dt")
        }
      j += 1
    }
    buf += out
  }
  override def commit(): WriterCommitMessage = MemRowsPartial(buf.toArray)
  override def abort(): Unit = ()
  override def close(): Unit = ()
}
