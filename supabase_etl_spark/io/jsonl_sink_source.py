"""Python Data Source WRITER (Spark 4 `DataSource.writer`): a
REST-shaped batch sink implemented entirely in Python.

The stream-reader half of the Python Data Source API is covered by
io/sdk_source.py (the vnstock-shaped financial-statements stream) and
io/replay_stream_source.py; this module covers the WRITER half (and a
batch reader of what it wrote) — the piece that replaces the reference's chunked REST upsert (etl_supabase.py's
`upsert_df` posts 300-row chunks) when the destination has no JVM
connector. The commit protocol mirrors the JVM DSv2 contract exactly:

  * ``write(iterator)`` runs ON EXECUTORS, once per partition; each
    task writes its rows to a uniquely-named staging file (task
    attempt isolation — speculative or retried attempts write
    different names and the loser is ignored) and returns a
    WriterCommitMessage naming it.
  * ``commit(messages)`` runs on the driver only after EVERY task
    succeeded, and atomically publishes the staged files (rename into
    the destination + manifest). Until then readers see nothing.
  * ``abort(messages)`` removes staged files when any task failed.

So the sink is all-or-nothing at the job level even though tasks write
independently — the same argument the parquet committer makes, rebuilt
in Python where a REST/entitlement-gated destination would live.
Rows cross in chunks of ``chunk_size`` (default 300, the reference's
page size) to bound per-call payloads.

``mode("overwrite")`` is honored with a publish-first protocol: the
new generation's files land first (uuid names never collide), the
manifest is atomically swapped to name only them, and the previous
generation is deleted last — so a crash anywhere in the commit leaves
either the old or the new generation fully intact, never neither.
Manifest-driven readers are always consistent; a raw directory-glob
reader can transiently see both generations during the swap window
(append mode keeps old files and the manifest lists the union).

SHARED-FILESYSTEM REQUIREMENT: tasks stage under ``<dest>/_staging``
on the filesystem local to the executor, and the driver publishes by
``os.rename`` — so destination and staging must live on a filesystem
all executors AND the driver share (local mode, NFS, or a FUSE-mounted
object store). On a multi-node cluster without shared storage, the
write() staging step must instead upload to the shared destination
(e.g. the REST/object-store call this sink models) and commit() only
publishes the manifest; the protocol is unchanged, the byte transport
is what varies.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

CHUNK_SIZE = 300  # reference parity: etl_supabase.py posts 300-row chunks


class _Staged(WriterCommitMessage):
    def __init__(self, path: str, n_rows: int, stats: dict | None = None):
        self.path = path
        self.n_rows = n_rows
        self.stats = stats or {}


class ChunkedJsonlWriter(DataSourceWriter):
    """Executor-side writer: rows → chunked JSONL staging file."""

    def __init__(self, options, overwrite: bool = False):
        self.dest = options.get("path")
        if not self.dest:
            raise ValueError("option 'path' is required")
        self.chunk_size = int(options.get("chunk_size", CHUNK_SIZE))
        self.overwrite = overwrite

    def write(self, iterator):
        os.makedirs(os.path.join(self.dest, "_staging"), exist_ok=True)
        name = f"task-{uuid.uuid4().hex}.jsonl"
        staged = os.path.join(self.dest, "_staging", name)
        n = 0
        stats: dict[str, list] = {}  # numeric col -> [min, max] for pruning

        def track(rec: dict) -> None:
            for k, v in rec.items():
                if isinstance(v, bool) or not isinstance(v, (int, float)):
                    continue
                s = stats.get(k)
                if s is None:
                    stats[k] = [v, v]
                else:
                    if v < s[0]:
                        s[0] = v
                    if v > s[1]:
                        s[1] = v

        with open(staged, "w") as fh:
            chunk = []
            for row in iterator:
                rec = row.asDict(recursive=True)
                track(rec)
                chunk.append(rec)
                if len(chunk) >= self.chunk_size:
                    fh.write("\n".join(json.dumps(r, default=str) for r in chunk) + "\n")
                    n += len(chunk)
                    chunk = []
            if chunk:
                fh.write("\n".join(json.dumps(r, default=str) for r in chunk) + "\n")
                n += len(chunk)
        return _Staged(staged, n, stats)

    def commit(self, messages):
        # driver-side, after ALL tasks succeeded: atomic publish.
        # Ordering is publish-new → swap-manifest → delete-old: uuid
        # task names never collide across generations, so the new
        # files land first, the manifest rename atomically repoints
        # readers at them, and the old generation is GC'd last. A
        # crash at ANY point leaves the previously committed data (or
        # the new, once the manifest renamed) fully intact — deleting
        # the old generation first would destroy committed data with
        # no replacement if the driver died mid-commit.
        manifest = os.path.join(self.dest, "_committed.json")
        published = []
        if os.path.exists(manifest):
            with open(manifest) as fh:
                prev = json.load(fh)["files"]
            if not self.overwrite:
                # append: the new manifest lists previous ∪ new
                published = prev
        for m in messages:
            if m is None:
                continue
            final = os.path.join(self.dest, os.path.basename(m.path))
            os.rename(m.path, final)
            entry = {"file": os.path.basename(final), "rows": m.n_rows}
            if getattr(m, "stats", None):
                # per-file numeric min/max — the reader's pushFilters
                # prunes whole files against these (Iceberg manifest
                # stats, rebuilt at the Python DSv2 layer)
                entry["stats"] = m.stats
            published.append(entry)
        tmp = manifest + f".tmp{uuid.uuid4().hex[:6]}"
        with open(tmp, "w") as fh:
            json.dump({"files": published}, fh)
        os.rename(tmp, manifest)
        # GC: any task-*.jsonl not in the just-published manifest is a
        # previous overwrite generation or crash leftover — safe to
        # drop now, and losing a crash race here only leaks files the
        # manifest never names.
        keep = {e["file"] for e in published}
        for f in os.listdir(self.dest):
            if f.startswith("task-") and f.endswith(".jsonl") and f not in keep:
                os.remove(os.path.join(self.dest, f))

    def abort(self, messages):
        for m in messages or []:
            if m is not None and os.path.exists(m.path):
                os.remove(m.path)


class ChunkedJsonlDataSource(DataSource):
    """``df.write.format("chunked_jsonl").option("path", d).save()``"""

    @classmethod
    def name(cls) -> str:
        return "chunked_jsonl"

    def schema(self) -> str:
        ddl = self.options.get("schema")
        if not ddl:
            raise ValueError("option 'schema' (DDL string) is required to read")
        return ddl

    def reader(self, schema) -> "ManifestJsonlReader":
        return ManifestJsonlReader(self.options)

    def writer(self, schema, overwrite: bool) -> DataSourceWriter:
        return ChunkedJsonlWriter(self.options, overwrite=overwrite)

    def streamWriter(self, schema, overwrite: bool):
        return ChunkedJsonlStreamWriter(self.options)


def register(spark) -> None:
    # the reader implements pushFilters (Spark 4.1 DSv2 pushdown);
    # Spark refuses to plan such a reader unless the feature flag is
    # on, and the flag is runtime-settable — set it here so a vanilla
    # (driver-owned) session works without session-factory coupling
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(ChunkedJsonlDataSource)


class ChunkedJsonlStreamWriter(DataSourceStreamWriter):
    """Streaming half of the sink — the last quadrant of the Python
    Data Source API matrix (batch reader: ManifestJsonlReader; stream
    readers: sdk_source Simple + replay_stream_source full; batch
    writer: above). Per microbatch: tasks stage exactly like the batch
    writer; ``commit(messages, batchId)`` publishes the staged files
    under an EPOCH entry in the manifest. Epoch publication is IDEMPOTENT: a
    batch replayed after a crash between sink-commit and checkpoint-
    advance finds its batchId already in the manifest and drops the
    restaged files instead of double-publishing — sink-side
    exactly-once on top of the engine's at-least-once replay, the same
    argument streaming/sinks.py makes at the foreachBatch level,
    rebuilt at the DataSource API level."""

    def __init__(self, options):
        self.dest = options.get("path")
        if not self.dest:
            raise ValueError("option 'path' is required")
        self.chunk_size = int(options.get("chunk_size", CHUNK_SIZE))

    def write(self, iterator):
        return ChunkedJsonlWriter(
            {"path": self.dest, "chunk_size": str(self.chunk_size)}
        ).write(iterator)

    def _manifest(self) -> dict:
        manifest = os.path.join(self.dest, "_committed.json")
        if os.path.exists(manifest):
            with open(manifest) as fh:
                return json.load(fh)
        return {"files": [], "epochs": []}

    def commit(self, messages, batchId: int) -> None:
        state = self._manifest()
        if batchId in state.get("epochs", []):
            # replayed epoch: already published — drop the restage
            for m in messages:
                if m is not None and os.path.exists(m.path):
                    os.remove(m.path)
            return
        for m in messages:
            if m is None:
                continue
            final = os.path.join(self.dest, os.path.basename(m.path))
            os.rename(m.path, final)
            state["files"].append(
                {"file": os.path.basename(final), "rows": m.n_rows, "epoch": batchId}
            )
        state.setdefault("epochs", []).append(batchId)
        manifest = os.path.join(self.dest, "_committed.json")
        tmp = manifest + f".tmp{uuid.uuid4().hex[:6]}"
        with open(tmp, "w") as fh:
            json.dump(state, fh)
        os.rename(tmp, manifest)

    def abort(self, messages, batchId: int) -> None:
        for m in messages or []:
            if m is not None and os.path.exists(m.path):
                os.remove(m.path)


class _FileSlice(InputPartition):
    def __init__(self, path: str):
        self.path = path


def _parse_ddl_fields(ddl: str) -> tuple[list[str], list[str]]:
    """Split a DDL string into (names, lowercased types) at TOP-LEVEL
    commas only — a naive ``split(',')`` corrupts parameterized types
    like ``decimal(10,2)`` (ADVICE r6). Supported type subset for the
    JSONL transport: integral / floating / boolean / string /
    decimal(p,s) / date / timestamp. Nested types (struct/map/array)
    have no canonical JSONL scalar encoding here, so they raise up
    front rather than yielding corrupt rows."""
    fields: list[str] = []
    types: list[str] = []
    depth, start = 0, 0
    parts: list[str] = []
    for i, ch in enumerate(ddl):
        if ch in "(<":
            depth += 1
        elif ch in ")>":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(ddl[start:i])
            start = i + 1
    parts.append(ddl[start:])
    for part in parts:
        part = part.strip()
        if not part:
            continue
        name, _, typ = part.partition(" ")
        typ = typ.strip().lower()
        if not typ:
            raise ValueError(f"DDL field missing a type: {part!r}")
        base = typ.replace("<", "(").split("(")[0].strip()
        if base in ("struct", "map", "array"):
            raise ValueError(
                f"unsupported nested type {typ!r} for the JSONL source; "
                "supported: int/bigint/float/double/boolean/string/"
                "decimal(p,s)/date/timestamp"
            )
        fields.append(name.strip())
        types.append(typ)
    return fields, types


def _jsonl_cast(typ: str):
    """Python-side cast for one supported DDL type (see _parse_ddl_fields)."""
    base = typ.split("(")[0].strip()
    if base in ("bigint", "int", "long", "integer", "smallint", "tinyint"):
        return int
    if base in ("double", "float", "real"):
        return float
    if base in ("boolean", "bool"):
        # JSON carries real booleans; tolerate the writer's str() form too
        return lambda v: v if isinstance(v, bool) else str(v).lower() == "true"
    if base in ("decimal", "numeric"):
        import decimal

        return lambda v: decimal.Decimal(str(v))
    if base == "date":
        import datetime as _dt

        return lambda v: _dt.date.fromisoformat(str(v))
    if base == "timestamp":
        import datetime as _dt

        return lambda v: _dt.datetime.fromisoformat(str(v))
    if base in ("string", "varchar", "char"):
        return str
    raise ValueError(f"unsupported type {typ!r} for the JSONL source")


class ManifestJsonlReader(DataSourceReader):
    """Batch READER half of the chunked-jsonl source — completes the
    Python DataSource matrix cell (batch writer above, stream pair in
    replay_stream_source/ChunkedJsonlStreamWriter): the driver resolves
    the sink's ``_committed.json`` manifest (so half-published crash
    leftovers are invisible, same contract as the manifest store) and
    plans ONE InputPartition per published file; executors parse their
    file's JSONL lines locally. Schema is caller-declared via the
    ``schema`` option (DDL string) — the values are cast field-by-field
    so round-tripping the writer's output is type-stable."""

    def __init__(self, options):
        self.dest = options.get("path")
        if not self.dest:
            raise ValueError("option 'path' is required")
        self.ddl = options.get("schema")
        if not self.ddl:
            raise ValueError("option 'schema' (DDL string) is required")
        self.fields, self.types = _parse_ddl_fields(self.ddl)
        self.pushed: list[tuple[str, str, float]] = []  # (col, op, value)

    def pushFilters(self, filters):
        """Filter pushdown (Spark 4.1 DSv2 Python API): accept numeric
        range/equality predicates for FILE pruning against the sink
        manifest's per-file min/max stats. Every filter is also
        returned, so Spark still applies the row-level predicate —
        pruning is a pure I/O win, never a correctness dependency
        (the conservative contract the parquet footer path uses)."""
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            LessThan,
            LessThanOrEqual,
        )

        ops = {
            EqualTo: "=",
            GreaterThan: ">",
            GreaterThanOrEqual: ">=",
            LessThan: "<",
            LessThanOrEqual: "<=",
        }
        for f in filters:
            op = ops.get(type(f))
            col = getattr(f, "attribute", None)
            val = getattr(f, "value", None)
            if (
                op
                and col is not None
                and len(col) == 1
                and isinstance(val, (int, float))
                and not isinstance(val, bool)
            ):
                self.pushed.append((col[0], op, val))
            yield f  # Spark re-evaluates everything row-level

    @staticmethod
    def _may_match(stats: dict, col: str, op: str, val: float) -> bool:
        s = stats.get(col)
        if not s:
            return True  # no stats for this column: cannot prune
        mn, mx = s
        if op == "=":
            return mn <= val <= mx
        if op == ">":
            return mx > val
        if op == ">=":
            return mx >= val
        if op == "<":
            return mn < val
        if op == "<=":
            return mn <= val
        return True

    def partitions(self):
        manifest = os.path.join(self.dest, "_committed.json")
        with open(manifest) as fh:
            entries = json.load(fh)["files"]
        live = [
            e
            for e in entries
            if all(
                self._may_match(e.get("stats", {}), col, op, val)
                for col, op, val in self.pushed
            )
        ]
        self.files_total = len(entries)
        self.files_read = len(live)
        if not live:
            # DSv2 requires >= 1 partition; an empty slice reads nothing
            return [_FileSlice("")]
        return [_FileSlice(os.path.join(self.dest, e["file"])) for e in live]

    def read(self, partition: _FileSlice):
        if not partition.path:  # fully pruned scan
            return
        casts = [_jsonl_cast(t) for t in self.types]
        with open(partition.path) as fh:
            for line in fh:
                if not line.strip():
                    continue
                rec = json.loads(line)
                yield tuple(
                    None if rec.get(f) is None else c(rec[f])
                    for f, c in zip(self.fields, casts)
                )
