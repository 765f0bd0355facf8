"""SQL frontend: the reference's Flink-SQL session surface on Spark.

Lets a user of the reference run the tutorial's statements verbatim
(modulo dialect trivia) against this engine:

    CREATE CATALOG / USE CATALOG          (Readme.md:51-66, guide.md:11-17)
    CREATE TABLE … [PRIMARY KEY … NOT ENFORCED] [col AS PROCTIME()]
        WITH ('bucket'=…, 'bucket-key'=…)  (guide.md:23-32,59-75,103-116)
    ALTER TABLE … SET ('k'='v')            (guide.md:180-185,265-272)
    INSERT INTO t SELECT …                 (guide.md:36-40,78-81,119-141)
    SELECT … FROM t / t$files / t$snapshots (guide.md:51-56,200-234)
    SET 'key' = 'value'                    (guide.md:2-4,51-56)
    SHOW TABLES / DESCRIBE t / DROP TABLE t

Statement routing happens with a handful of anchored regexes; everything
inside a SELECT is handed to Spark SQL untouched (Catalyst owns
expression parsing/optimization — SURVEY.md §3 EP1). DDL state lives in
the lakehouse Catalog; an INSERT whose source is a registered *streaming*
view becomes a named continuous Pipeline (the tutorial's
`INSERT INTO … SELECT` jobs), a batch source commits one snapshot.

Scale notes: the frontend adds no execution of its own — SELECTs compile
to the same pruned-scan DataFrames as the Python API (snapshot file list
→ manifest min/max pruning → parquet vectorized scan), and INSERT
routing reuses Table.append/upsert (bucket-hash repartition, atomic
snapshot commit).
"""

from __future__ import annotations

import re

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from advent_of_code_flink_paimon_spark.lakehouse import Catalog

# Flink type -> Spark DDL type (the reference's full type surface, SURVEY.md §1.3)
_TYPE_MAP = [
    (re.compile(r"DOUBLE\s+PRECISION", re.I), "double"),
    (re.compile(r"\bBIGINT\b", re.I), "long"),
    (re.compile(r"\bINT\b", re.I), "int"),
    (re.compile(r"\bINTEGER\b", re.I), "int"),
    (re.compile(r"\bDOUBLE\b", re.I), "double"),
    (re.compile(r"\bFLOAT\b", re.I), "float"),
    (re.compile(r"\bVARCHAR(\s*\(\s*\d+\s*\))?", re.I), "string"),
    (re.compile(r"\bSTRING\b", re.I), "string"),
    (re.compile(r"\bBOOLEAN\b", re.I), "boolean"),
    (re.compile(r"\bTIMESTAMP\s*\(\s*\d\s*\)", re.I), "timestamp"),
    (re.compile(r"\bTIMESTAMP\b", re.I), "timestamp"),
    (re.compile(r"\bDECIMAL\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)", re.I), r"decimal(\1,\2)"),
]


def _flink_type_to_spark(t: str) -> str:
    for pat, repl in _TYPE_MAP:
        t = pat.sub(repl, t)
    return t.strip()


def _parse_with_options(tail: str) -> dict:
    """Parse `('k' = 'v', ...)` option lists."""
    return {
        k: v for k, v in re.findall(r"'([^']+)'\s*=\s*'([^']*)'", tail)
    }


def _split_top_level(body: str) -> list[str]:
    """Split on commas not nested inside parentheses (column lists,
    SELECT lists with multi-argument calls) or single-quoted string
    literals (`SET v = 'a,b'`), honoring '' escapes — same
    literal-masking discipline as functions/scalar.py's dialect
    rewrites."""
    depth, cur, parts, i, n = 0, [], [], 0, len(body)
    while i < n:
        ch = body[i]
        if ch == "'":
            # copy the literal verbatim, treating '' as an escaped quote
            cur.append(ch)
            i += 1
            while i < n:
                cur.append(body[i])
                if body[i] == "'":
                    if i + 1 < n and body[i + 1] == "'":
                        cur.append("'")
                        i += 2
                        continue
                    i += 1
                    break
                i += 1
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
        i += 1
    if cur:
        parts.append("".join(cur))
    return [p.strip() for p in parts if p.strip()]


def _sub_outside_literals(pattern: re.Pattern, repl: str, text: str) -> str:
    """pattern.sub(repl, ...) applied only OUTSIDE single-quoted string
    literals ('' escapes honored) — same literal-masking discipline as
    _split_top_level, so a literal like 'b.foo' survives a `b.` →
    dequalify rewrite verbatim."""
    out, i, n = [], 0, len(text)
    while i < n:
        k = text.find("'", i)
        if k == -1:
            out.append(pattern.sub(repl, text[i:]))
            break
        out.append(pattern.sub(repl, text[i:k]))
        j = k + 1
        while j < n:
            if text[j] == "'":
                if j + 1 < n and text[j + 1] == "'":
                    j += 2
                    continue
                j += 1
                break
            j += 1
        out.append(text[k:j])
        i = j
    return "".join(out)


class StatementResult:
    """Uniform return for non-SELECT statements."""

    def __init__(self, kind: str, detail: str = "", handle=None):
        self.kind, self.detail, self.handle = kind, detail, handle

    def __repr__(self):
        return f"<{self.kind} {self.detail}>".strip()


class Engine:
    """The SQL-client role of the reference (Readme.md:38-46): one object
    holding a SparkSession + lakehouse Catalog, executing statements."""

    def __init__(self, spark: SparkSession, warehouse: str, db: str = "default"):
        self.spark = spark
        self.warehouse = warehouse
        self.catalog = Catalog(warehouse, db)
        self.session_conf: dict[str, str] = {}
        self._sources: dict[str, DataFrame] = {}
        self._pipelines: dict[str, object] = {}
        self._computed: dict[str, dict[str, str]] = {}  # table -> {col: PROCTIME}

    # -- sources ---------------------------------------------------------
    def register_source(self, name: str, df: DataFrame) -> None:
        """Register an external (possibly streaming) DataFrame as a named
        source view — the datagen tables of Readme.md:88-154 (built with
        sources/datagen.py) enter the SQL surface here."""
        self._sources[name] = df
        if not df.isStreaming:
            df.createOrReplaceTempView(name)

    # -- statement router ------------------------------------------------
    def sql(self, statement: str, _internal: bool = False):
        """Execute one statement. ``_internal`` marks the engine's own
        recursive calls (MERGE reading its target, INSERT evaluating its
        source): those must see plain batch relations, never the
        streaming-runtime-mode changelog interception — a MERGE against
        the +I/-U/+U/-D history would resurrect deleted keys."""
        s = statement.strip().rstrip(";").strip()
        # Flink-dialect tolerance so the tutorial's statements run
        # verbatim: execution hints are advisory in micro-batch Spark
        # (SURVEY.md §2.3 — LOOKUP retry/async hints have no per-record
        # analog), and `FOR SYSTEM_TIME AS OF <proctime>` IS the batch
        # join against the dimension's latest snapshot, which is exactly
        # what the rewritten query does.
        # ...EXCEPT /*+ OPTIONS(...) */ — Paimon's dynamic-table scan
        # hints (incremental-between, scan.snapshot-id) are semantic,
        # not advisory, and Catalog.sql rewrites them into reads
        s = re.sub(r"/\*\+(?!\s*OPTIONS\s*\().*?\*/", " ", s, flags=re.S | re.I)
        s = re.sub(r"\bFOR\s+SYSTEM_TIME\s+AS\s+OF\s+[\w.$]+", " ", s, flags=re.I)
        u = s.upper()

        if u.startswith("CREATE CATALOG") or u.startswith("USE CATALOG"):
            return StatementResult("OK", "catalog bound at Engine construction")
        if u.startswith("CREATE DATABASE"):
            db = s.split()[-1]
            Catalog(self.warehouse, db)  # creates <db>.db
            return StatementResult("OK", f"created database {db}")
        if u.startswith("SHOW DATABASES"):
            import glob as _glob
            import os as _os

            dbs = sorted(
                _os.path.basename(p)[: -len(".db")]
                for p in _glob.glob(_os.path.join(self.warehouse, "*.db"))
            )
            return self.spark.createDataFrame([(d,) for d in dbs], "database_name string")
        if u.startswith("USE "):
            self.catalog = Catalog(self.warehouse, s.split()[-1])
            return StatementResult("OK", f"using {self.catalog.db}")
        if u.startswith("SET"):
            m = re.match(r"SET\s+'([^']+)'\s*=\s*'([^']*)'", s, re.I)
            if m:
                self.session_conf[m.group(1)] = m.group(2)
                return StatementResult("OK", f"set {m.group(1)}")
            return StatementResult("OK")
        if u.startswith("SHOW PARTITIONS"):
            # Flink: SHOW PARTITIONS t → one spec string per partition
            # (k1=v1/k2=v2, key order = table's declared partition keys);
            # derived from the same manifest rollup as $partitions
            name = s.split()[-1]
            t = self.catalog.get_table(name)
            pkeys = t.partition_keys
            if not pkeys:
                raise ValueError(f"table {name} is not partitioned")
            specs = sorted(
                {
                    "/".join(f"{k}={(e.get('partition') or {}).get(k)}" for k in pkeys)
                    for e in t.manifest()
                }
            )
            return self.spark.createDataFrame([(p,) for p in specs], "partition string")
        if u.startswith("SHOW TABLES"):
            return self.spark.createDataFrame(
                [(t,) for t in self.catalog.list_tables()], "table_name string"
            )
        if u.startswith("SHOW CATALOGS"):  # Readme.md:57
            return self.spark.createDataFrame(
                [("default_catalog",), ("paimon",)], "catalog_name string"
            )
        if u.startswith("SHOW FUNCTIONS") or u.startswith("SHOW VIEWS"):
            return self.spark.sql(s)  # Readme.md:68,78 — Spark's own registry
        if u.startswith("DESCRIBE"):
            name = s.split()[-1]
            t = self.catalog.get_table(name)
            rows = [(f.name, f.dataType.simpleString()) for f in t.schema.fields]
            return self.spark.createDataFrame(rows, "col_name string, data_type string")
        if u.startswith("EXPLAIN"):
            # EXPLAIN [PLAN FOR] [SIMPLE|EXTENDED|FORMATTED|CODEGEN|COST]
            # <query> — plan inspection is the first thing a user of the
            # reference's interactive SQL client reaches for when a query
            # is slow (Readme.md:38-46). The inner query runs through the
            # same dialect bridge ($files, time travel, TVF rewrites) and
            # the Spark plan text comes back as a one-row relation.
            m = re.match(
                r"EXPLAIN\s+(?:PLAN\s+FOR\s+)?"
                r"(?:(SIMPLE|EXTENDED|FORMATTED|CODEGEN|COST)\s+)?(.+)$",
                s, re.I | re.S,
            )
            mode = (m.group(1) or "formatted").lower()
            inner_sql = m.group(2).strip()
            # only query-shaped statements: dispatching a DDL/DML inner
            # through self.sql would EXECUTE it, not explain it
            if not re.match(r"(SELECT|WITH|VALUES|TABLE)\b", inner_sql, re.I):
                raise ValueError("EXPLAIN expects a query, got a statement")
            inner = self.sql(inner_sql, _internal=True)
            import contextlib
            import io

            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                inner.explain(mode)
            return self.spark.createDataFrame([(buf.getvalue(),)], "plan string")
        if u.startswith("CREATE TABLE"):
            return self._create_table(s)
        if u.startswith("ALTER TABLE"):
            m = re.match(r"ALTER\s+TABLE\s+(\S+)\s+RENAME\s+TO\s+(\S+)\s*$", s, re.I)
            if m:
                old, new = m.group(1).split(".")[-1], m.group(2).split(".")[-1]
                self.catalog.rename_table(old, new)
                # the old name's temp views are stale now
                for suffix in ("", "__files", "__snapshots", "__schemas", "__tags",
                               "__partitions", "__manifests", "__consumers",
                               "__options", "__audit_log"):
                    self.spark.catalog.dropTempView(f"{old}{suffix}")
                return StatementResult("OK", f"renamed {old} to {new}")
            m = re.match(r"ALTER\s+TABLE\s+(\S+)\s+SET\s*\((.*)\)\s*$", s, re.I | re.S)
            if m:
                self.catalog.alter_table(m.group(1), _parse_with_options(m.group(2)))
                return StatementResult("OK", f"altered {m.group(1)}")
            m = re.match(
                r"ALTER\s+TABLE\s+(\S+)\s+DROP\s+(?:COLUMN\s+)?(\w+)\s*$", s, re.I
            )
            if m:
                self.catalog.drop_column(m.group(1).split(".")[-1], m.group(2))
                return StatementResult("OK", f"dropped column {m.group(2)}")
            m = re.match(
                r"ALTER\s+TABLE\s+(\S+)\s+RENAME\s+(?:COLUMN\s+)?(\w+)\s+TO\s+(\w+)\s*$",
                s, re.I,
            )
            if m:
                self.catalog.rename_column(m.group(1).split(".")[-1], m.group(2), m.group(3))
                return StatementResult("OK", f"renamed {m.group(2)} to {m.group(3)}")
            m = re.match(
                r"ALTER\s+TABLE\s+(\S+)\s+ADD\s+(?:COLUMN\s+)?(.+?)\s*$", s, re.I
            )
            if m:
                spec = m.group(2).strip()
                # Flink's `ADD (col TYPE)` form: strip the enclosing parens
                if spec.startswith("(") and spec.endswith(")"):
                    spec = spec[1:-1].strip()
                col, typ = spec.split(None, 1)
                self.catalog.add_column(m.group(1), f"{col} {_flink_type_to_spark(typ)}")
                return StatementResult("OK", f"added column to {m.group(1)}")
            # Flink's `ALTER TABLE t MODIFY (col TYPE)` schema-evolution
            # spelling (reference evolution surface, assets/output5.png
            # schema-0→schema-1): numeric widening only — the catalog
            # rejects anything lossy or on a key/partition column.
            m = re.match(
                r"ALTER\s+TABLE\s+(\S+)\s+MODIFY\s+(?:COLUMN\s+)?(.+?)\s*$", s, re.I
            )
            if m:
                spec = m.group(2).strip()
                if spec.startswith("(") and spec.endswith(")"):
                    spec = spec[1:-1].strip()
                col, typ = spec.split(None, 1)
                self.catalog.alter_column_type(
                    m.group(1).split(".")[-1], col, _flink_type_to_spark(typ)
                )
                return StatementResult("OK", f"modified column {col} to {typ.strip()}")
            raise ValueError(f"unsupported ALTER TABLE form: {s}")
        if u.startswith("DROP TABLE"):
            name = s.split()[-1]
            self.catalog.drop_table(name)
            return StatementResult("OK", f"dropped {name}")
        if u.startswith("INSERT INTO") or u.startswith("INSERT OVERWRITE"):
            return self._insert(s)
        if u.startswith("TRUNCATE TABLE"):
            name = s.split()[-1].split(".")[-1]
            t = self.catalog.get_table(name)
            sid = t.overwrite(self.spark.createDataFrame([], t.schema))
            return StatementResult("OK", f"truncated {name} (snapshot {sid})")
        if u.startswith("SHOW CREATE TABLE"):
            name = s.split()[-1].split(".")[-1]
            t = self.catalog.get_table(name)
            cols = ",\n    ".join(
                f"{f.name} {f.dataType.simpleString().upper()}" for f in t.schema.fields
            )
            pk = t.primary_key
            if pk:
                cols += f",\n    PRIMARY KEY ({', '.join(pk)}) NOT ENFORCED"
            parts = t.partition_keys
            part_clause = f" PARTITIONED BY ({', '.join(parts)})" if parts else ""
            opts = {
                k: v for k, v in t.options.items()
                if k not in ("primary-key", "partition-by")
            }
            with_clause = (
                " WITH (" + ", ".join(
                    f"'{k}' = '{v if isinstance(v, str) else ','.join(v)}'"
                    for k, v in sorted(opts.items())
                ) + ")" if opts else ""
            )
            ddl = f"CREATE TABLE {name} (\n    {cols}\n){part_clause}{with_clause}"
            return self.spark.createDataFrame([(name, ddl)], "table_name string, ddl string")
        if u.startswith("CALL"):
            return self._call(s)
        if u.startswith("MERGE INTO"):
            return self._merge(s)
        if u.startswith("DELETE FROM"):
            m = re.match(r"DELETE\s+FROM\s+(\S+)\s+WHERE\s+(.+)$", s, re.I | re.S)
            if not m:
                raise ValueError(f"unparseable DELETE: {s}")
            sid = self.catalog.get_table(m.group(1)).delete_where(self.spark, m.group(2))
            return StatementResult("OK", f"deleted from {m.group(1)} (snapshot {sid})")
        if u.startswith("UPDATE "):
            m = re.match(r"UPDATE\s+(\S+)\s+SET\s+(.+?)\s+WHERE\s+(.+)$", s, re.I | re.S)
            if not m:
                raise ValueError(f"unparseable UPDATE: {s}")
            sets = {}
            for part in _split_top_level(m.group(2)):
                col, expr = part.split("=", 1)
                sets[col.strip()] = expr.strip()
            sid = self.catalog.get_table(m.group(1).split(".")[-1]).update_where(
                self.spark, sets, m.group(3)
            )
            return StatementResult("OK", f"updated {m.group(1)} (snapshot {sid})")
        # streaming runtime mode: a plain SELECT over a lakehouse table
        # surfaces the changelog `op` column exactly like the reference's
        # CLI rows (`+I`/-U/+U/-D — Readme.md:113-127, guide.md:209-232)
        if not _internal and self.session_conf.get("execution.runtime-mode") == "streaming":
            op_read = self._streaming_table_select(s)
            if op_read is not None:
                return op_read
        # everything else (SELECT/WITH/VALUES) → Spark SQL over the
        # catalog views, with $files/$snapshots and Flink-dialect
        # function-name rewrites (functions/scalar.py)
        from advent_of_code_flink_paimon_spark.functions import rewrite_flink_functions

        for name, df in self._sources.items():
            if not df.isStreaming:
                df.createOrReplaceTempView(name)
        return self.catalog.sql(
            self.spark, rewrite_flink_functions(self._rewrite_window_tvfs(s))
        )

    _TVF = re.compile(
        r"TABLE\s*\(\s*(TUMBLE|HOP|SESSION)\s*\(\s*TABLE\s+([\w.]+)"
        r"(?:\s+PARTITION\s+BY\s+(\w+))?\s*,\s*"
        r"DESCRIPTOR\s*\(\s*(\w+)\s*\)\s*,\s*(.*?)\)\s*\)",
        re.I | re.S,
    )
    _IVL = re.compile(r"INTERVAL\s+'([\d.]+)'\s+(\w+)", re.I)

    def _rewrite_window_tvfs(self, s: str) -> str:
        """Flink windowing TVFs → Spark window functions, textually:

            TABLE(TUMBLE(TABLE t, DESCRIPTOR(ts), INTERVAL '1' MINUTE))
            TABLE(HOP(TABLE t, DESCRIPTOR(ts), <slide>, <size>))
            TABLE(SESSION(TABLE t [PARTITION BY k], DESCRIPTOR(ts), <gap>))

        become a subquery that exposes ``window_start``/``window_end``
        columns (exactly the TVF's output shape), so Flink-dialect
        windowed GROUP BYs run verbatim. Batch semantics here (the
        lakehouse tables and registered batch views); continuous
        windowed pipelines use streaming/windows.py, which owns
        watermarks.

        TUMBLE/HOP assign windows row-locally via ``window()``. SESSION
        needs merging, so it compiles to the q34 gap-island shape
        (operators/temporal.py): LAG marks session starts, a running
        SUM numbers sessions, and window bounds are per-session
        MIN(ts) / MAX(ts)+gap — window_end matching both Flink's
        session semantics and Spark's streaming ``session_window``.
        Scale note: with PARTITION BY the three windows share one
        hash-partitioned sort; without it the session merge is a single
        global ORDER BY ``ts`` pass — inherently sequential, exactly as
        in Flink's unkeyed session windows."""

        def repl(m):
            kind, tbl = m.group(1).upper(), m.group(2).split(".")[-1]
            pcol, ts = m.group(3), m.group(4)
            ivls = [f"{n} {unit.lower()}" for n, unit in self._IVL.findall(m.group(5))]
            alias = f"__tvf_{tbl.replace('.', '_')}"
            if kind == "TUMBLE" and len(ivls) == 1:
                win = f"window({ts}, '{ivls[0]}')"
            elif kind == "HOP" and len(ivls) == 2:
                # Flink arg order: slide, size; Spark: size, slide
                win = f"window({ts}, '{ivls[1]}', '{ivls[0]}')"
            elif kind == "SESSION" and len(ivls) == 1:
                n, unit = ivls[0].split(None, 1)
                gap = f"INTERVAL '{n}' {unit.upper()}"
                pb = f"PARTITION BY {pcol} " if pcol else ""
                sid_pb = f"{pcol}, __sid" if pcol else "__sid"
                return (
                    f"(SELECT * EXCEPT (__new, __sid), "
                    f"MIN({ts}) OVER (PARTITION BY {sid_pb}) AS window_start, "
                    f"MAX({ts}) OVER (PARTITION BY {sid_pb}) + {gap} AS window_end "
                    f"FROM (SELECT *, SUM(__new) OVER ({pb}ORDER BY {ts} "
                    f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS __sid "
                    f"FROM (SELECT *, CASE WHEN {ts} <= "
                    f"LAG({ts}) OVER ({pb}ORDER BY {ts}) + {gap} "
                    f"THEN 0 ELSE 1 END AS __new FROM {tbl}))) {alias}"
                )
            else:
                raise ValueError(f"unsupported window TVF: {m.group(0)}")
            return (
                f"(SELECT * EXCEPT (__win), __win.start AS window_start, __win.end AS window_end "
                f"FROM (SELECT *, {win} AS __win FROM {tbl})) {alias}"
            )

        return self._TVF.sub(repl, s)

    def _streaming_table_select(self, s: str):
        """`SELECT <cols|*> FROM <lakehouse-table>` under
        `SET 'execution.runtime-mode' = 'streaming'` → the table's
        changelog with a leading `op` column, matching the reference's
        streaming CLI output shape. A changelog-producing table replays
        its recorded +I/-U/+U/-D rows; an append/PK table without a
        changelog surfaces its current image as +I rows (the insert-only
        stream a fresh subscriber would observe).

        Surface limits, intentionally: only `SELECT <exprs> FROM <one
        table>` is intercepted — WHERE/GROUP BY/joins fall through to
        the batch path (no op column), matching the scope of the
        reference CLI examples this mirrors.

        Scan start modes (round-6 ask #3) spell as Paimon OPTIONS
        hints: `FROM t /*+ OPTIONS('scan.mode'='from-snapshot',
        'scan.snapshot-id'='3') */` replays the stored changelog from
        snapshot 3 on; 'latest' replays nothing already committed;
        'compacted-full' opens at the last full-compaction baseline."""
        m = re.match(
            r"SELECT\s+(.*?)\s+FROM\s+([\w.]+)\s*"
            r"(?:/\*\+\s*OPTIONS\s*\(([^)]*)\)\s*\*/)?\s*$",
            s,
            re.I | re.S,
        )
        if m is None or "$" in m.group(2):
            return None
        cols, tname = m.group(1).strip(), m.group(2).split(".")[-1]
        kv = dict(re.findall(r"'([^']+)'\s*=\s*'([^']*)'", m.group(3) or ""))
        try:
            t = self.catalog.get_table(tname)
        except (KeyError, AssertionError, FileNotFoundError):
            return None
        if t.options.get("changelog-producer") in ("input", "lookup", "full-compaction"):
            from advent_of_code_flink_paimon_spark.streaming.pipelines import (
                resolve_scan_start,
            )

            compacts = [
                s["id"] for s in t.snapshots() if s.get("commit_kind") == "COMPACT"
            ]
            image_at = None
            if kv.get("scan.mode") == "compacted-full" and compacts:
                # Paimon compacted-full, literally: the merged image of
                # the latest compaction as +I rows, then the stored
                # changes committed after it — works for the 'input'
                # producer too (its compactions store no changelog, so
                # the image IS the skip-the-history opening)
                image_at = max(compacts)
            elif kv.get("scan.mode") == "from-snapshot-full":
                # Paimon from-snapshot-full: the full image AT snapshot
                # N, then the changes committed after it
                if "scan.snapshot-id" not in kv:
                    raise ValueError(
                        "'scan.mode'='from-snapshot-full' needs 'scan.snapshot-id'"
                    )
                image_at = int(t.resolve_ref(kv["scan.snapshot-id"]))
            if "consumer-id" in kv:
                # Paimon 'consumer-id' hint: register the subscriber's
                # bookmark at its start position so expiry cannot
                # reclaim the window it is about to read (the same
                # genesis-at-earliest rule stream_table_changelog uses)
                if kv.get("scan.mode") in ("compacted-full", "from-snapshot-full"):
                    compacts_ = [
                        s["id"] for s in t.snapshots() if s.get("commit_kind") == "COMPACT"
                    ]
                    pin = (
                        int(t.resolve_ref(kv["scan.snapshot-id"]))
                        if kv.get("scan.mode") == "from-snapshot-full"
                        else (max(compacts_) if compacts_ else 1)
                    )
                else:
                    pin = resolve_scan_start(
                        t, kv.get("scan.mode"), kv.get("scan.snapshot-id"),
                        kv.get("scan.timestamp-millis"),
                    )
                    if pin is None:
                        snaps_ = t.snapshots()
                        pin = snaps_[0]["id"] if snaps_ else 1
                # never move an EXISTING bookmark forward (round-6
                # ADVICE #1): a reattach resumes from recorded progress
                # — re-pinning at the new start would release the
                # subscriber's unconsumed window for expiry. Backward
                # (explicit earlier start) widens the pin to cover the
                # re-read.
                existing_ = t.consumers().get(kv["consumer-id"], {}).get(
                    "next_snapshot_id"
                )
                if existing_ is None or pin < existing_:
                    t.register_consumer(kv["consumer-id"], next_snapshot_id=pin)
            if image_at is not None:
                seq = t.snapshot(image_at).get("sequence_number", image_at)
                image = t.read(self.spark, snapshot_id=image_at).withColumn(
                    "op", F.lit("+I")
                )
                changes = t.read_changelog(
                    self.spark, from_seq=seq
                ).withColumnRenamed("_change_type", "op")
                df = image.unionByName(changes)
            else:
                start = resolve_scan_start(
                    t,
                    kv.get("scan.mode"),
                    kv.get("scan.snapshot-id"),
                    kv.get("scan.timestamp-millis"),
                )
                df = t.read_changelog(
                    self.spark, from_seq=(start - 1) if start else 0
                ).withColumnRenamed("_change_type", "op")
        else:
            df = t.read(self.spark).withColumn("op", F.lit("+I"))
        exprs = (
            [f.name for f in t.schema.fields] if cols == "*" else _split_top_level(cols)
        )
        try:
            return df.selectExpr("op", *exprs)
        except Exception:
            # aggregates / DISTINCT / anything row-shape-changing has no
            # per-row op; fall through to the batch path
            return None

    # -- MERGE -----------------------------------------------------------
    def _merge(self, s: str):
        """General MERGE INTO on a PK table, compiled to one native
        upsert batch (SURVEY.md §2.1 row-level DML):

            MERGE INTO t [AS a] USING s [AS b] ON a.pk = b.pk
            [WHEN MATCHED [AND <cond>] THEN UPDATE SET * | SET c = expr, …]
            [WHEN MATCHED [AND <cond>] THEN DELETE]
            [WHEN NOT MATCHED [AND <cond>] THEN INSERT *]

        Clause order is significant (first matching clause claims the
        row, as in SQL MERGE). The join key must be the target's primary
        key — the merge IS a keyed upsert, so updates/deletes/inserts
        all compile to one ``Table.upsert`` batch carrying ``__op``:
        a single shuffle-by-bucket write, no per-clause table rewrite."""
        head = re.match(
            r"MERGE\s+INTO\s+(\S+)(?:\s+AS\s+(\w+))?\s+USING\s+(\S+)(?:\s+AS\s+(\w+))?\s+"
            r"ON\s+(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)\s+(WHEN\s+.*)$",
            s,
            re.I | re.S,
        )
        if not head:
            raise ValueError(f"unparseable MERGE: {s}")
        tname, talias, sname, salias = (
            head.group(1), head.group(2) or head.group(1).split(".")[-1],
            head.group(3), head.group(4) or head.group(3).split(".")[-1],
        )
        la, lc, ra, rc = head.group(5), head.group(6), head.group(7), head.group(8)
        target = self.catalog.get_table(tname.split(".")[-1])
        if not target.primary_key:
            raise ValueError("MERGE target must be a primary-key table")
        key_by_alias = {la.lower(): lc, ra.lower(): rc}
        tkey = key_by_alias.get(talias.lower())
        skey = key_by_alias.get(salias.lower())
        if tkey is None or skey is None or [tkey] != target.primary_key:
            raise ValueError("MERGE requires ON <target>.<pk> = <source>.<pk>")

        # clause boundaries anchor on WHEN [NOT] MATCHED specifically, so
        # a CASE WHEN ... THEN inside a condition or SET expression never
        # terminates the clause early
        clauses = re.findall(
            r"WHEN\s+(NOT\s+)?MATCHED(?:\s+AND\s+(.*?))?\s+THEN\s+"
            r"(UPDATE\s+SET\s+.*?|DELETE|INSERT\s+\*)\s*"
            r"(?=WHEN\s+(?:NOT\s+)?MATCHED\b|$)",
            head.group(9),
            re.I | re.S,
        )
        if not clauses:
            raise ValueError(f"MERGE has no WHEN clauses: {s}")

        cols = [f.name for f in target.schema.fields]
        value_cols = [c for c in cols if c not in target.primary_key]
        tgt = self.sql(f"SELECT * FROM {tname.split('.')[-1]}", _internal=True).alias(talias)
        src = self.sql(f"SELECT * FROM {sname.split('.')[-1]}", _internal=True).alias(salias)
        on = F.col(f"{talias}.{tkey}") == F.col(f"{salias}.{skey}")

        matched = tgt.join(src, on, "inner")
        pieces, claimed = [], F.lit(False)
        for is_not, cond, action in clauses:
            # NULL conditions must behave as not-matching this clause AND
            # still fall through to later clauses — coalesce to False so
            # `claimed`/`~claimed` never NULL-poison the row
            cexpr = (
                F.coalesce(F.expr(cond), F.lit(False))
                if cond and cond.strip()
                else F.lit(True)
            )
            action_u = action.strip().upper()
            if is_not:
                ins = src.join(tgt, on, "left_anti").filter(cexpr)
                if not action_u.startswith("INSERT"):
                    raise ValueError("WHEN NOT MATCHED supports INSERT * only")
                pieces.append(
                    ins.select(*cols).withColumn("__op", F.lit("U"))
                )
                continue
            rows = matched.filter(cexpr & ~claimed)
            claimed = claimed | cexpr
            if action_u == "DELETE":
                pieces.append(
                    rows.select(
                        F.col(f"{talias}.{tkey}").alias(tkey),
                        *[F.col(f"{talias}.{c}").alias(c) for c in value_cols],
                    ).withColumn("__op", F.lit("D"))
                )
            elif action_u.startswith("UPDATE"):
                set_body = re.sub(r"^UPDATE\s+SET\s+", "", action.strip(), flags=re.I)
                if set_body.strip() == "*":
                    sets = {c: f"{salias}.{c}" for c in value_cols}
                else:
                    sets = {}
                    for part in _split_top_level(set_body):
                        col, expr = part.split("=", 1)
                        col = col.strip().split(".")[-1]
                        if col in target.primary_key:
                            raise ValueError(f"MERGE cannot SET the primary key ({col})")
                        sets[col] = expr.strip()
                pieces.append(
                    rows.select(
                        F.col(f"{talias}.{tkey}").alias(tkey),
                        *[
                            F.expr(sets[c]).alias(c) if c in sets
                            else F.col(f"{talias}.{c}").alias(c)
                            for c in value_cols
                        ],
                    ).withColumn("__op", F.lit("U"))
                )
            else:
                raise ValueError(f"unsupported MERGE action: {action}")

        batch = pieces[0]
        for p in pieces[1:]:
            batch = batch.unionByName(p)

        # standard MERGE semantics: a source with MORE than one row per
        # key is an error, not an arbitrary winner. The check rides the
        # SAME batch evaluation as the merge itself (VERDICT r2 #7): a
        # zero-row-when-clean "violation" branch — count per key, keep
        # keys with count > 1, and make the projected key column a
        # raise_error — unions into the upsert batch, so no extra eager
        # job runs and the per-key count shuffle shares the merge pass.
        _DUP_MARK = "MERGE source has multiple rows for key"
        viol = (
            src.groupBy(F.col(f"{salias}.{skey}").alias(tkey))
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > 1)
            .select(
                # coalesce: a NULL duplicate key would otherwise NULL the
                # whole concat, so raise_error's message — and the marker
                # the except-branch greps for — would vanish
                F.raise_error(
                    F.concat(
                        F.lit(f"{_DUP_MARK} {skey}="),
                        F.coalesce(F.col(tkey).cast("string"), F.lit("NULL")),
                    )
                )
                .cast(target.schema[tkey].dataType)
                .alias(tkey),
                *[
                    F.lit(None).cast(target.schema[c].dataType).alias(c)
                    for c in value_cols
                ],
                F.lit("U").alias("__op"),
            )
        )
        try:
            sid = target.upsert(batch.unionByName(viol))
        except Exception as ex:
            if _DUP_MARK in str(ex):
                keym = re.search(rf"{re.escape(_DUP_MARK)} \S+=(\S+)", str(ex))
                offender = f" = {keym.group(1)}" if keym else ""
                raise ValueError(
                    f"{_DUP_MARK} {skey}{offender}; deduplicate the source "
                    "(SQL MERGE forbids multiple matches)"
                ) from None
            raise
        return StatementResult("OK", f"merged into {tname} (snapshot {sid})")

    # -- procedures ------------------------------------------------------
    def _call(self, s: str):
        """`CALL [sys.]<proc>(args)` — the SQL spelling of the
        reference's table-maintenance actions (the Flink action jar at
        tutorial/guide.md:236-242 became `CALL sys.compact(...)`
        procedures in later Flink/Paimon). Args may be positional or
        `name => value`; the first is always the table ('db.t' or 't')."""
        m = re.match(r"CALL\s+(?:sys\.)?(\w+)\s*\((.*)\)\s*$", s, re.I | re.S)
        if not m:
            raise ValueError(f"unparseable CALL: {s}")
        proc = m.group(1).lower()
        args = []
        for part in _split_top_level(m.group(2)):
            if not part:
                continue
            if "=>" in part:
                part = part.split("=>", 1)[1].strip()
            # remove ONE matching outer quote pair — str.strip would also
            # eat quotes belonging to the value (e.g. a "<col> < '…'"
            # predicate argument)
            if len(part) >= 2 and part[0] == part[-1] and part[0] in "'\"":
                part = part[1:-1]
            args.append(part)
        if not args:
            raise ValueError(f"CALL {proc}: missing table argument")
        t = self.catalog.get_table(args[0].split(".")[-1])
        if proc == "compact":
            # CALL sys.compact('t' [, 'zorder(a,b)' | 'a,b']) — the
            # optional second arg is Paimon's sort-compact order spec
            sid = t.compact(cluster_by=args[1] if len(args) > 1 else None)
            return StatementResult("OK", f"compacted {t.name} (snapshot {sid})")
        if proc == "compact_minor":
            sid = t.compact_minor()
            return StatementResult("OK", f"minor-compacted {t.name} (snapshot {sid})")
        if proc == "create_tag":
            sid = t.create_tag(args[1], int(args[2]) if len(args) > 2 else None)
            return StatementResult("OK", f"tag {args[1]} -> snapshot {sid}")
        if proc == "create_branch":
            # CALL sys.create_branch('t', 'b' [, tag-or-snapshot])
            ref = None
            if len(args) > 2:
                ref = int(args[2]) if args[2].isdigit() else args[2]
            anchor = t.create_branch(args[1], from_ref=ref)
            return StatementResult(
                "OK", f"branch {args[1]} -> snapshot {anchor}"
            )
        if proc == "delete_branch":
            t.delete_branch(args[1])
            return StatementResult("OK", f"deleted branch {args[1]}")
        if proc == "fast_forward":
            head = t.fast_forward(args[1])
            return StatementResult(
                "OK", f"fast-forwarded {t.name} to {args[1]} head {head}"
            )
        if proc == "delete_tag":
            t.delete_tag(args[1])
            return StatementResult("OK", f"deleted tag {args[1]}")
        if proc == "rollback_to":
            sid = t.rollback_to(int(args[1]) if args[1].isdigit() else args[1])
            return StatementResult("OK", f"rolled back {t.name} to snapshot {sid}")
        if proc == "expire_snapshots":
            expired = t.expire_snapshots(
                retain_max=int(args[1]) if len(args) > 1 else None,
                retain_min=int(args[2]) if len(args) > 2 else 1,
            )
            return StatementResult("OK", f"expired snapshots {expired}")
        if proc == "expire_partitions":
            # CALL sys.expire_partitions('t', "day < '2024-01-01'"):
            # drop whole partitions by predicate. Rides the manifest-
            # pruned copy-on-write delete — partition predicates prune
            # on the partition columns' min=max footer stats, so only
            # the expired partitions' files are touched.
            if len(args) < 2:
                raise ValueError("expire_partitions needs a partition predicate")
            sid = t.delete_where(self.spark, args[1])
            return StatementResult("OK", f"expired partitions of {t.name} (snapshot {sid})")
        if proc == "remove_orphan_files":
            removed = t.remove_orphan_files(
                older_than_ms=int(args[1]) if len(args) > 1 else None
            )
            return StatementResult("OK", f"removed {len(removed)} orphan files")
        if proc == "reset_consumer":
            # Paimon's reset_consumer: WITH a nextSnapshotId the
            # bookmark moves there; WITHOUT one the consumer is DELETED
            # (Paimon's documented no-id behavior), releasing its
            # expire-snapshots pin
            if len(args) > 2:
                nxt = t.register_consumer(args[1], int(args[2]))
                return StatementResult(
                    "OK", f"consumer {args[1]} reset -> next snapshot {nxt}"
                )
            t.drop_consumer(args[1])
            return StatementResult("OK", f"consumer {args[1]} deleted")
        if proc == "register_consumer":
            nxt = t.register_consumer(
                args[1], int(args[2]) if len(args) > 2 else None
            )
            return StatementResult("OK", f"consumer {args[1]} -> next snapshot {nxt}")
        if proc == "drop_consumer":
            t.drop_consumer(args[1])
            return StatementResult("OK", f"dropped consumer {args[1]}")
        raise ValueError(f"unknown procedure: {proc}")

    # -- DDL -------------------------------------------------------------
    def _create_table(self, s: str):
        # CREATE TABLE … [WITH (…)] AS SELECT …: standard Flink SQL
        # surface (not in the reference tutorial, VERDICT r2 missing #3).
        # Schema derives from the SELECT; a 'primary-key' WITH option
        # (Paimon's CTAS spelling — the column list that would carry a
        # PRIMARY KEY clause doesn't exist here) makes it a PK table and
        # the seed write an upsert, otherwise one append commit.
        ctas = re.match(
            r"CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?(\S+)\s*"
            r"(?:WITH\s*\((.*?)\)\s*)?AS\s+((?:SELECT|WITH|VALUES)\b.*)$",
            s,
            re.I | re.S,
        )
        if ctas:
            if_not_exists, name = bool(ctas.group(1)), ctas.group(2)
            with_tail, select_sql = ctas.group(3) or "", ctas.group(4)
            if if_not_exists and self.catalog.has_table(name):
                # IF NOT EXISTS on an existing table: whole statement is a
                # no-op — the seed SELECT must not run, let alone write
                return StatementResult("OK", f"{name} already exists, skipped")
            src_df = self.sql(select_sql, _internal=True)
            t = self.catalog.create_table(name, src_df.schema, _parse_with_options(with_tail))
            mode = "upsert" if t.primary_key else "append"
            sid = getattr(t, mode)(src_df)
            return StatementResult("OK", f"created {name} as select (snapshot {sid})")
        # lazy column body + end anchor: the greedy form would swallow the
        # optional trailing PARTITIONED BY / WITH clauses into the column list
        m = re.match(
            r"CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?(\S+)\s*\((.*?)\)\s*"
            r"(?:PARTITIONED\s+BY\s*\(([^)]*)\)\s*)?(?:WITH\s*\((.*)\))?\s*$",
            s,
            re.I | re.S,
        )
        if not m:
            raise ValueError(f"unparseable CREATE TABLE: {s}")
        if_not_exists = bool(m.group(1))
        name, body, part_tail, with_tail = m.group(2), m.group(3), m.group(4), m.group(5) or ""
        if if_not_exists and self.catalog.has_table(name):
            return StatementResult("OK", f"{name} already exists, skipped")
        options = _parse_with_options(with_tail)
        if part_tail:
            options["partition-by"] = [c.strip() for c in part_tail.split(",")]

        fields, computed = [], {}
        for part in _split_top_level(body):
            pk = re.match(r"PRIMARY\s+KEY\s*\(([^)]*)\)(\s+NOT\s+ENFORCED)?", part, re.I)
            if pk:
                options["primary-key"] = [c.strip() for c in pk.group(1).split(",")]
                continue
            gen = re.match(r"(\w+)\s+AS\s+PROCTIME\s*\(\s*\)", part, re.I)
            if gen:
                computed[gen.group(1)] = "PROCTIME"
                fields.append(f"{gen.group(1)} timestamp")
                continue
            col = re.match(r"(\w+)\s+(.+)", part)
            if col:
                fields.append(f"{col.group(1)} {_flink_type_to_spark(col.group(2))}")

        schema = StructType.fromDDL(", ".join(fields))

        # 'connector'='datagen' DDL (Readme.md:88-102,132-154) defines a
        # generated SOURCE, not a lakehouse table
        if options.get("connector") == "datagen":
            from advent_of_code_flink_paimon_spark.sources.datagen import datagen_source

            self.register_source(name, datagen_source(self.spark, schema, options))
            return StatementResult("SOURCE", f"registered datagen source {name}")

        self.catalog.create_table(name, schema, options)
        if computed:
            self._computed[name] = computed
        return StatementResult("OK", f"created {name}")

    # -- DML -------------------------------------------------------------
    def _insert(self, s: str):
        m = re.match(
            r"INSERT\s+(INTO|OVERWRITE)\s+(?:TABLE\s+)?(\S+)\s+(SELECT\b.*|VALUES\b.*)$",
            s, re.I | re.S,
        )
        if not m:
            raise ValueError(f"unparseable INSERT: {s}")
        overwrite = m.group(1).upper() == "OVERWRITE"
        target_name, select_sql = m.group(2), m.group(3)
        target = self.catalog.get_table(target_name)
        if overwrite:
            # INSERT OVERWRITE: replace the table image in one commit
            # (computed PROCTIME columns are stamped here exactly like
            # the INTO path — the SELECT never provides them)
            src_df = self.sql(select_sql, _internal=True)
            computed = self._computed.get(target_name, {})
            expected = [f.name for f in target.schema.fields if f.name not in computed]
            if [c.lower() for c in src_df.columns] != [n.lower() for n in expected] and len(
                src_df.columns
            ) == len(expected):
                src_df = src_df.toDF(*expected)
            for col in computed:
                src_df = src_df.withColumn(col, F.current_timestamp())
            sid = target.overwrite(src_df)
            return StatementResult("OK", f"overwrote {target_name} (snapshot {sid})")

        # the tutorial's streaming lookup-join enrichment (guide.md:119-141):
        # stream JOIN pk-table → continuous LookupJoinPipeline with retry
        lookup = self._streaming_lookup_insert(target, select_sql)
        if lookup is not None:
            return lookup

        # a SELECT straight from one registered streaming source becomes a
        # continuous pipeline (the tutorial's INSERT INTO jobs,
        # guide.md:36-40); a windowed-TVF SELECT over a streaming source
        # becomes a continuous watermarked windowed aggregate; anything
        # else evaluates as a batch snapshot
        streaming_src = self._streaming_select(select_sql)
        if streaming_src is None:
            streaming_src = self._streaming_windowed_select(select_sql)
        src_df = (
            streaming_src
            if streaming_src is not None
            else self.sql(select_sql, _internal=True)
        )

        # Flink INSERT INTO ... SELECT is positional: when the SELECT
        # list doesn't carry the target's column names (modulo computed
        # columns appended below) but the arity lines up, map by position
        names = [f.name for f in target.schema.fields]
        computed = self._computed.get(target_name, {})
        expected = [n for n in names if n not in computed]
        if [c.lower() for c in src_df.columns] != [n.lower() for n in expected] and len(
            src_df.columns
        ) == len(expected):
            src_df = src_df.toDF(*expected)

        for col in computed:
            src_df = src_df.withColumn(col, F.current_timestamp())

        if src_df.isStreaming:
            from advent_of_code_flink_paimon_spark.streaming import Pipeline

            mode = "upsert" if target.primary_key else "append"
            pname = self.session_conf.get("pipeline.name", f"insert-{target_name}")
            trigger = int(
                float(
                    re.sub(
                        r"[^\d.]", "",
                        self.session_conf.get("execution.checkpointing.interval", "20s"),
                    )
                    or 20
                )
            )
            pipe = Pipeline(pname, src_df, target, mode=mode, trigger_seconds=trigger)
            q = pipe.start()
            self._pipelines[pname] = q
            return StatementResult("PIPELINE", pname, handle=q)

        mode = "upsert" if target.primary_key else "append"
        getattr(target, mode)(src_df)
        return StatementResult("OK", f"{mode} into {target_name}")

    def _streaming_lookup_insert(self, target, select_sql: str):
        """`SELECT … FROM <streaming-src> [AS a] JOIN <pk-table> [AS b]
        ON a.k = b.k` → LookupJoinPipeline (processing-time temporal
        join with retry queue, SURVEY.md §3 EP3). LOOKUP(...)/SYSTEM_TIME
        decorations were already stripped by sql(), but /*+ OPTIONS(...)
        */ hints are deliberately PRESERVED by the preprocessor (they are
        batch scan hints consumed by Catalog.sql) — so the tutorial's
        verbatim statement (guide.md:138: ``JOIN sensor_info /*+
        OPTIONS('lookup.async'='true', ...) */ FOR SYSTEM_TIME ...``)
        carries a dimension-side hint here. Strip it locally before
        matching: on the streaming lookup path the async options are
        moot (our lookup pipeline already batches + retries) and the
        lookup cache is always on — the pipeline keeps the dimension
        image cached per dimension snapshot, so 'lookup.cache' options
        have nothing to tune. Only the batch fallback should let the
        catalog consume OPTIONS.
        The output column set is the pipeline's contract (stream columns
        + dimension attributes) — the SELECT list is advisory here, as
        the sink schema is the target table's."""
        select_sql = re.sub(
            r"/\*\+\s*OPTIONS\s*\([^)]*\)\s*\*/", " ", select_sql, flags=re.I
        )
        m = re.match(
            r"SELECT\s+.*?\s+FROM\s+(\S+)(?:\s+AS\s+(\w+))?\s+"
            r"JOIN\s+(\S+)(?:\s+AS\s+(\w+))?\s+ON\s+(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)\s*$",
            select_sql.strip(),
            re.I | re.S,
        )
        if not m:
            return None
        src_name = m.group(1).split(".")[-1]
        dim_name = m.group(3).split(".")[-1]
        k1, k2 = m.group(6), m.group(8)
        src = self._sources.get(src_name)
        if src is None or not src.isStreaming or k1 != k2:
            return None
        try:
            dim = self.catalog.get_table(dim_name)
        except KeyError:
            return None

        from advent_of_code_flink_paimon_spark.streaming import LookupJoinPipeline

        pname = self.session_conf.get("pipeline.name", f"lookup-{target.name}")
        pipe = LookupJoinPipeline(
            pname,
            self.catalog,
            src,
            dim_table=dim,
            target_table=target,
            on=k1,
            max_attempts=int(self.session_conf.get("lookup.max-attempts", 50)),
            trigger_seconds=int(
                float(
                    re.sub(r"[^\d.]", "", self.session_conf.get("execution.checkpointing.interval", "20s")) or 20
                )
            ),
        )
        q = pipe.start()
        self._pipelines[pname] = q
        return StatementResult("PIPELINE", pname, handle=q)

    def _streaming_windowed_select(self, select_sql: str) -> DataFrame | None:
        """A windowing-TVF SELECT whose TVF input is a registered
        STREAMING source → continuous watermarked windowed aggregate
        (the Flink-SQL windowed INSERT job, expressed Spark-natively).

        SQL cannot spell a watermark, so it is injected on the
        DESCRIPTOR column before the rewritten query runs over a temp
        view of the stream (`SET 'watermark.delay' = '<duration>'`,
        default 2 minutes). Append output: each window emits once,
        finalized, when the watermark passes — one row per closed
        window lands in the target per Pipeline commit, composing with
        PK targets as the §2.9 continuous-aggregate shape."""
        m = self._TVF.search(select_sql)
        if m is None:
            return None
        src_name = m.group(2).split(".")[-1]
        src = self._sources.get(src_name)
        if src is None or not src.isStreaming:
            return None
        kind, ts = m.group(1).upper(), m.group(4)
        ivls = [f"{n} {unit.lower()}" for n, unit in self._IVL.findall(m.group(5))]
        if kind == "TUMBLE" and len(ivls) == 1:
            win = F.window(ts, ivls[0])
        elif kind == "HOP" and len(ivls) == 2:
            win = F.window(ts, ivls[1], ivls[0])  # Flink order: slide, size
        elif kind == "SESSION" and len(ivls) == 1:
            win = F.session_window(ts, ivls[0])
        else:
            raise ValueError(f"unsupported streaming window TVF: {m.group(0)}")

        shape = re.match(
            r"SELECT\s+(.*?)\s+FROM\s+TABLE\s*\(.*?\)\s*(?:GROUP\s+BY\s+(.*?))?\s*$",
            select_sql.strip(),
            re.I | re.S,
        )
        if shape is None:
            return None
        # the TVF's table name is the only alias Flink SQL can qualify
        # these columns with (b.amount for TABLE b) and it does not
        # exist on the raw stream DataFrame — strip it from every
        # expression, aggregates included, before building F.expr
        dequalify = re.compile(rf"\b{re.escape(src_name)}\.", re.I)
        items = [
            _sub_outside_literals(dequalify, "", it)
            for it in _split_top_level(shape.group(1))
        ]
        group_keys = [
            g.split(".")[-1]
            for g in _split_top_level(shape.group(2) or "")
            if g.split(".")[-1].lower() not in ("window_start", "window_end")
        ]
        key_set = {k.lower() for k in group_keys}
        # Spark's append-mode watermark check requires grouping by the
        # window EXPRESSION (not fields derived from it), so the
        # aggregation is built with DataFrame ops rather than SQL text.
        aggs, out_cols, proj_cols = [], [], []
        for item in items:
            alias_m = re.match(r"(.*?)\s+AS\s+(\w+)\s*$", item, re.I | re.S)
            expr, alias = (
                (alias_m.group(1).strip(), alias_m.group(2)) if alias_m else (item, item)
            )
            low = expr.split(".")[-1].lower()
            if low == "window_start":
                out_cols.append(F.col("__win.start").alias(alias if alias_m else "window_start"))
                proj_cols.append(out_cols[-1])
            elif low == "window_end":
                out_cols.append(F.col("__win.end").alias(alias if alias_m else "window_end"))
                proj_cols.append(out_cols[-1])
            elif low in key_set:
                key = expr.split(".")[-1]
                out_cols.append(F.col(key).alias(alias) if alias_m else F.col(key))
                proj_cols.append(out_cols[-1])
            else:
                aggs.append(F.expr(expr).alias(alias))
                out_cols.append(F.col(alias))
                proj_cols.append(F.expr(expr).alias(alias))
        delay = self.session_conf.get("watermark.delay", "2 minutes")
        wsrc = src.withWatermark(ts, delay)
        if shape.group(2) is None and not [a for a in aggs]:
            # projection-only TVF select: window assignment without
            # aggregation — still a valid streaming transform
            return wsrc.withColumn("__win", win).select(*proj_cols)
        if not aggs:
            return None
        grouped = wsrc.groupBy(win.alias("__win"), *group_keys).agg(*aggs)
        return grouped.select(*out_cols)

    def _streaming_select(self, select_sql: str) -> DataFrame | None:
        """`SELECT <cols|*> FROM <streaming-source>` (no joins/aggs) maps
        directly onto the registered stream; richer streaming SQL composes
        via the Python API (streaming/windows.py)."""
        m = re.match(r"SELECT\s+(.*?)\s+FROM\s+(\S+)\s*$", select_sql.strip(), re.I | re.S)
        if not m:
            return None
        cols, src = m.group(1).strip(), m.group(2)
        src = src.split(".")[-1]  # default_catalog.default_database.t → t
        df = self._sources.get(src)
        if df is None or not df.isStreaming:
            return None
        if cols == "*":
            return df
        return df.selectExpr(*[c.strip() for c in cols.split(",")])
