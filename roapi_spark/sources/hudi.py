"""Apache Hudi Copy-on-Write loader — pure-Python timeline replay.

Completes the no-jars lakehouse trio next to Delta (txn-log replay,
``delta.py``) and Iceberg (metadata replay, ``iceberg.py``); the
reference supports neither Hudi nor Iceberg (columnq/src/table/mod.rs
format list), so this is an extension, built from the public Hudi spec:

  .hoodie/<instant>.commit          completed write (JSON: per-partition
                                    write stats naming the base files)
  .hoodie/<instant>.replacecommit   clustering / insert_overwrite (JSON:
                                    partitionToReplaceFileIds + new files)
  .hoodie/<instant>.commit.requested / .inflight   incomplete — ignored

Copy-on-Write read-optimized view: every write produces whole base
parquet files named ``<fileId>_<token>_<instant>.parquet``; a reader
takes, per file group (fileId), the base file of the LATEST completed
instant, skipping file groups replaced by a later replacecommit. Time
travel: ``option.as_of_instant`` truncates the timeline (instants are
lexicographically ordered timestamps, so a string compare suffices).

Merge-on-Read: deltacommits (``.hoodie/<instant>.deltacommit``) append
row-level deltas into per-file-group LOG files instead of rewriting base
parquet; compactions land as ordinary ``.commit`` base rewrites that
absorb earlier logs. Three views are served, selected by
``option.mor_view``:

  snapshot (default)  base ⟕ log upserts, latest-instant-wins per
                      ``_hoodie_record_key``; soft deletes honored via
                      the public ``_hoodie_is_deleted`` convention
  read_optimized      base files only (compaction-lag tolerant)
  incremental         via option.incremental_from — log-only commits
                      surface with their deltacommit instant

Scale: the timeline lists file paths — no data scan; the selected base
files feed one ``spark.read.parquet`` (predicate pushdown / column
pruning as usual). Hive-style partition directories surface as typed
columns via basePath-option, matching the delta/iceberg loaders. The
log delta is dimension-sized between compactions, so the snapshot merge
is a left-anti join on the record key: the 100 TB base side never
reshuffles; AQE broadcasts the compacted delta (see hudi_log.py for the
block format and its supported-subset boundaries).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from roapi_spark.config import TableSource


class HudiError(ValueError):
    pass


# longest suffix first: ".deltacommit" also ends with ".commit"
_COMPLETED = (".replacecommit", ".deltacommit", ".commit")


def _timeline(meta_dir: str) -> list[tuple[str, str, str]]:
    """[(instant, kind, path)] for completed commits, sorted by instant."""
    out = []
    for name in os.listdir(meta_dir):
        base = os.path.join(meta_dir, name)
        if not os.path.isfile(base):
            continue
        for suffix in _COMPLETED:
            if name.endswith(suffix) and not name.endswith(
                (".requested", ".inflight")
            ):
                # instants are timestamp strings; ordering is lexical
                instant = name[: -len(suffix)]
                out.append((instant, suffix.lstrip("."), base))
                break
    return sorted(out)


def table_layout(
    root: str, as_of_instant: str | None = None
) -> tuple[list[str], list[tuple[str, str]]]:
    """Resolve the file slices of a table at (optionally) a historical
    instant: (base parquet files, [(instant, log file)] in replay order).
    CoW tables simply yield no log files. A compaction base rewrite
    absorbs that file group's earlier log files (instant <= base's)."""
    meta_dir = os.path.join(root, ".hoodie")
    if not os.path.isdir(meta_dir):
        raise HudiError(f"not a hudi table (no .hoodie): {root}")
    # (partition, fileId) -> (instant, relative path)
    groups: dict[tuple[str, str], tuple[str, str]] = {}
    logs: dict[tuple[str, str], list[tuple[str, str]]] = {}
    for instant, kind, path in _timeline(meta_dir):
        if as_of_instant is not None and instant > str(as_of_instant):
            break
        try:
            meta = json.loads(open(path).read())
        except ValueError as exc:
            raise HudiError(f"malformed hudi commit {path}: {exc}") from exc
        if kind == "replacecommit":
            for part, fids in (meta.get("partitionToReplaceFileIds") or {}).items():
                for fid in fids:
                    groups.pop((part, fid), None)
                    logs.pop((part, fid), None)
        for part, stats in (meta.get("partitionToWriteStats") or {}).items():
            for st in stats or []:
                fid = st.get("fileId")
                rel = st.get("path")
                if not fid or not rel:
                    continue
                if ".log." in os.path.basename(rel):
                    # hudi appends to an existing log file across
                    # deltacommits, and every touching commit re-lists the
                    # path in its write stats — record each file ONCE (at
                    # its first touch) or the replay would re-read the
                    # whole file per commit and duplicate its records;
                    # per-block INSTANT_TIME headers attribute rows
                    slot = logs.setdefault((part, fid), [])
                    if all(rel != r for _, r in slot):
                        slot.append((instant, rel))
                    continue
                cur = groups.get((part, fid))
                if cur is None or instant >= cur[0]:
                    groups[(part, fid)] = (instant, rel)
    files = []
    for (_part, _fid), (_instant, rel) in sorted(groups.items()):
        p = os.path.join(root, rel)
        if not os.path.exists(p):
            raise HudiError(f"hudi base file missing on disk: {p}")
        files.append(p)
    log_files: list[tuple[str, str]] = []
    for key, pairs in sorted(logs.items()):
        base_instant = groups.get(key, ("", ""))[0]
        for instant, rel in sorted(pairs):
            if instant <= base_instant:
                continue  # absorbed by a later compaction base file
            p = os.path.join(root, rel)
            if not os.path.exists(p):
                raise HudiError(f"hudi log file missing on disk: {p}")
            log_files.append((instant, p))
    return files, log_files


def to_dataframe(spark: SparkSession, ts: TableSource) -> DataFrame:
    from roapi_spark.sources import LoadError

    if "incremental_from" in ts.option:
        from pyspark.sql import functions as F

        try:
            pairs = incremental_file_slices(
                ts.uri,
                str(ts.option["incremental_from"]),
                ts.option.get("incremental_to"),
            )
        except (HudiError, OSError) as exc:
            raise LoadError(f"hudi table {ts.name!r}: {exc}") from exc
        if not pairs:
            raise LoadError(
                f"hudi table {ts.name!r}: no commits in incremental range"
            )
        parts = []
        by_instant: dict[str, list[str]] = {}
        log_pairs: list[tuple[str, str]] = []
        for instant, p in pairs:
            if ".log." in os.path.basename(p):
                log_pairs.append((instant, p))
            else:
                by_instant.setdefault(instant, []).append(p)
        for instant, files in sorted(by_instant.items()):
            parts.append(
                spark.read.option("basePath", ts.uri).parquet(*files)
                .withColumn("_commit_instant", F.lit(instant))
            )
        if log_pairs:  # MoR: log-only deltacommits surface incrementally
            try:
                rows = _log_rows(
                    log_pairs,
                    key_field=str(ts.option.get("record_key", _RECORD_KEY)),
                )
            except (HudiError, OSError) as exc:
                raise LoadError(f"hudi table {ts.name!r}: {exc}") from exc
            lo = str(ts.option["incremental_from"])
            hi = ts.option.get("incremental_to")
            rows = [
                r for r in rows
                if r["__instant"] > lo and (hi is None or r["__instant"] <= str(hi))
            ]
            if rows:
                for r in rows:
                    r["_commit_instant"] = r.pop("__instant")
                    r.pop("__ord", None)
                parts.append(spark.createDataFrame(rows))
        if not parts:
            raise LoadError(
                f"hudi table {ts.name!r}: no commits in incremental range"
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        # CoW rewrites whole base files: when the data carries Hudi's
        # per-row _hoodie_commit_time meta column, refine to rows
        # actually written in the range (carried-over rows drop out).
        # Rows WITHOUT the meta value — log-replayed upserts and DELETE
        # tombstones (allowMissingColumns leaves theirs NULL), or slices
        # from before the column existed — fall back to the commit
        # instant that surfaced them, which is exact for log blocks and
        # the correct whole-file attribution for base rewrites
        if "_hoodie_commit_time" in out.columns:
            out = out.filter(
                F.coalesce(F.col("_hoodie_commit_time"), F.col("_commit_instant"))
                > str(ts.option["incremental_from"])
            )
        return out
    try:
        files, log_files = table_layout(
            ts.uri, ts.option.get("as_of_instant")
        )
    except (HudiError, OSError) as exc:
        raise LoadError(f"hudi table {ts.name!r}: {exc}") from exc
    view = str(ts.option.get("mor_view", "snapshot"))
    if view not in ("snapshot", "read_optimized"):
        raise LoadError(
            f"hudi table {ts.name!r}: mor_view must be snapshot or "
            f"read_optimized, got {view!r}"
        )
    if view == "read_optimized":
        log_files = []
    if not files and not log_files:
        raise LoadError(f"hudi table {ts.name!r}: no completed commits")
    from pyspark.sql import functions as F

    from roapi_spark.types import parse_data_type

    # basePath keeps hive-style partition dirs surfacing as typed columns
    df = None
    if files:
        df = spark.read.option("basePath", ts.uri).parquet(*files)
    if log_files:
        try:
            df = _merge_log_deltas(spark, df, log_files, ts)
        except (HudiError, OSError) as exc:
            raise LoadError(f"hudi table {ts.name!r}: {exc}") from exc
    if ts.schema is not None:  # declared schema wins (same as parquet/orc)
        df = df.select(
            *[F.col(f.name).cast(f.dataType).alias(f.name) for f in ts.schema.fields]
        )
    for pc in ts.partition_columns:
        if pc.name in df.columns:
            df = df.withColumn(
                pc.name, F.col(pc.name).cast(parse_data_type(pc.data_type))
            )
    return df


_RECORD_KEY = "_hoodie_record_key"
_DELETED = "_hoodie_is_deleted"


def _log_rows(
    log_files: list[tuple[str, str]], key_field: str = _RECORD_KEY
) -> list[dict]:
    """Replay log files -> row dicts tagged with __instant/__ord (the
    merge ordering). Files replay in instant order; blocks within a file
    in append order (hudi_log handles rollback voiding and turns DELETE
    blocks into ``{key, _hoodie_is_deleted: True}`` tombstones). Rows are
    normalized to the union of observed fields (None-filled) so sparse
    tombstones and schema-evolved blocks union into one DataFrame."""
    from roapi_spark.sources.hudi_log import merged_records

    rows: list[dict] = []
    ordinal = 0
    for file_instant, path in sorted(log_files):
        for instant, rec in merged_records(
            open(path, "rb").read(), key_field=key_field
        ):
            r = dict(rec)
            r["__instant"] = instant or file_instant
            r["__ord"] = ordinal
            ordinal += 1
            rows.append(r)
    all_keys: dict[str, None] = {}  # insertion-ordered field union
    for r in rows:
        for k in r:
            all_keys.setdefault(k)
    return [{k: r.get(k) for k in all_keys} for r in rows]


def _merge_log_deltas(spark, base, log_files, ts) -> DataFrame:
    """Snapshot view: upsert the (dimension-sized) log delta into the base
    scan. Latest write per record key wins; rows whose latest version has
    ``_hoodie_is_deleted`` true disappear. The base side only ever takes a
    left-anti join on the key — no shuffle of the full table when AQE
    broadcasts the compacted delta."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    key = str(ts.option.get("record_key", _RECORD_KEY))
    rows = _log_rows(log_files, key_field=key)
    # time travel: a shared log file is recorded once at its first touch,
    # so blocks APPENDED after the as-of instant still replay — drop them
    # by their block-header instant or the historical view shows future rows
    as_of = ts.option.get("as_of_instant")
    if as_of is not None:
        rows = [r for r in rows if r["__instant"] <= str(as_of)]
    if not rows:
        if base is None:
            raise HudiError("log files contained no records and no base exists")
        return base
    if any(key not in r for r in rows):
        raise HudiError(f"hudi log records missing record key field {key!r}")

    ldf = spark.createDataFrame(rows)
    # latest version per key (instant, then append order breaks ties)
    w = Window.partitionBy(key).orderBy(
        F.desc("__instant"), F.desc("__ord")
    )
    latest = (
        ldf.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__instant", "__ord")
    )
    if _DELETED in latest.columns:
        upserts = latest.filter(
            ~F.coalesce(F.col(_DELETED).cast("boolean"), F.lit(False))
        ).drop(_DELETED)
    else:
        upserts = latest
    if base is None:
        return upserts
    if key not in base.columns:
        raise HudiError(
            f"hudi base files lack record key column {key!r}; set "
            "option.record_key to the table's key field"
        )
    # the delta's exact row count is known driver-side — broadcast the key
    # set outright when it is dimension-sized so the base scan NEVER
    # shuffles (the pre-AQE plan otherwise picks a sort-merge anti-join
    # with a full Exchange of the base); past the cap, fall back to AQE
    touched = latest.select(key)
    if len(rows) <= 2_000_000:
        touched = F.broadcast(touched)
    survivors = base.join(touched, on=key, how="left_anti")
    # align the delta to the base schema (log records may omit meta cols)
    aligned = upserts.select(
        *[
            F.col(c).cast(base.schema[c].dataType).alias(c)
            if c in upserts.columns
            else F.lit(None).cast(base.schema[c].dataType).alias(c)
            for c in base.columns
        ]
    )
    return survivors.unionByName(aligned)


def incremental_file_slices(
    root: str, from_instant: str, to_instant: str | None = None
) -> list[tuple[str, str]]:
    """[(instant, base file)] for the LATEST in-range file slice of every
    file group written by completed commits with ``from_instant <
    instant <= to_instant`` — the file set behind Hudi's incremental
    query on a CoW table. One slice per group, not every slice: a group
    rewritten twice inside the range would otherwise contribute its
    carried-over rows twice (CoW base files are whole-file rewrites).
    Precise per-row attribution within a slice needs the
    ``_hoodie_commit_time`` meta column, which the loader filters on
    when present."""
    meta_dir = os.path.join(root, ".hoodie")
    if not os.path.isdir(meta_dir):
        raise HudiError(f"not a hudi table (no .hoodie): {root}")
    latest: dict[tuple[str, str], tuple[str, str]] = {}
    log_slices: list[tuple[str, str]] = []
    for instant, _kind, path in _timeline(meta_dir):
        if instant <= str(from_instant):
            continue
        if to_instant is not None and instant > str(to_instant):
            break
        try:
            meta = json.loads(open(path).read())
        except ValueError as exc:
            raise HudiError(f"malformed hudi commit {path}: {exc}") from exc
        for part, stats in (meta.get("partitionToWriteStats") or {}).items():
            for st in stats or []:
                rel = st.get("path")
                fid = st.get("fileId") or rel
                if not rel:
                    continue
                if ".log." in os.path.basename(rel):
                    # every in-range log file contributes (append-only rows
                    # carry no carried-over duplication, unlike CoW bases) —
                    # but once per FILE, not once per touching commit: the
                    # same path is re-listed by each deltacommit appending
                    # to it, and the loader's per-row block-instant filter
                    # handles in-range attribution
                    p = os.path.join(root, rel)
                    if all(p != q for _, q in log_slices):
                        log_slices.append((instant, p))
                else:
                    latest[(part, fid)] = (instant, os.path.join(root, rel))
    return sorted(list(latest.values()) + log_slices)
