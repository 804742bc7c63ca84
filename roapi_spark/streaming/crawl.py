"""Streaming crawl ingestion: Structured Streaming queries over a
directory that crawl archives LAND in — three operators sharing the
binaryFile file-stream cursor (exactly-once per-file delivery):

* ``stream_crawl_ingest``   — parsed + extracted funnel rows per batch
* ``stream_url_frontier``   — stateful first-seen/revisit classification
  keyed on the canonical URL (applyInPandasWithState)
* ``stream_crawl_to_delta`` — corpus delivery: filtered, batch-deduped
  documents appended to a Delta table, one atomic commit per batch

No reference parity (roapi has no streaming surface at all) — this is
the streaming twin of the batch crawl funnel (functions/crawl.py):
the deploy shape where a fetcher fleet drops ``.warc.gz`` files into
object storage and the corpus pipeline consumes them incrementally
instead of re-scanning the crawl.

Mechanics: Spark's ``binaryFile`` FILE STREAM source is the cursor —
its checkpoint records which files were committed, giving exactly-once
per-file delivery across restarts (same pattern as streaming/cdf.py's
log-file cursor). Each micro-batch carries whole files as rows; an
Arrow-batched ``mapInPandas`` kernel parses the WARC records
(sources/warc.parse_warc_bytes), splits HTTP payloads, runs HTML
main-text extraction (functions/web.extract_main_text), and emits one
flag row per response record. The canonical-URL key is added JVM-side.

Scale notes: input volume per batch is the ARRIVAL rate (new crawl
files), never the corpus size; parallelism is per-file, the crawl
unit. Whole-file rows bound memory at max(file size) per task — the
same bound the batch binaryFile/multimodal path already carries; crawl
producers cap file sizes (Common Crawl: ~1 GB) for exactly this
reason.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

_BINARYFILE_SCHEMA = (
    "path string, modificationTime timestamp, length bigint, content binary"
)


def _landing_stream(spark: SparkSession, landing_dir: str, glob: str):
    """The shared binaryFile landing-directory source every crawl
    stream fronts with: whole-file rows, glob-filtered, checkpointed
    by the file-stream cursor."""
    return (
        spark.readStream.format("binaryFile")
        .schema(_BINARYFILE_SCHEMA)
        .option("pathGlobFilter", glob)
        .load(landing_dir)
    )

FLAGS_SCHEMA = (
    "warc_file string, target_uri string, is_ok int, is_html int, "
    "norm_len bigint"
)


def _parse_extract_kernel(include_text: bool = False):
    import pandas as pd

    from roapi_spark.functions.web import decode_http_text, extract_main_text
    from roapi_spark.sources.warc import parse_warc_bytes

    cols = [
        "warc_file", "target_uri", "is_ok", "is_html", "norm_len",
    ] + (["extracted"] if include_text else [])

    def fn(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        # yield one frame PER INPUT FILE: holding a whole Arrow chunk's
        # parsed records (several ~1 GB archives' extracted texts) at
        # once would scale task memory with chunk size, breaking the
        # documented max(file size)-per-task bound
        for pdf in batches:
            for path, content in zip(pdf["path"], pdf["content"]):
                name = str(path).rsplit("/", 1)[-1]
                out: list[dict] = []
                for rec in parse_warc_bytes(bytes(content), name):
                    if rec["warc_type"] != "response":
                        continue
                    ok = rec["http_status"] == 200
                    html = ok and str(
                        rec["http_content_type"] or ""
                    ).startswith("text/html")
                    norm_len, text = None, None
                    if html:
                        raw = decode_http_text(
                            rec["payload"], rec["http_content_type"]
                        )
                        # fail-closed: undecodable page = extraction miss
                        if raw is not None:
                            text = extract_main_text(raw)
                            norm_len = len(text)
                    row = {
                        "warc_file": name,
                        "target_uri": rec["target_uri"],
                        "is_ok": int(ok),
                        "is_html": int(html),
                        "norm_len": norm_len,
                    }
                    if include_text:
                        row["extracted"] = text
                    out.append(row)
                yield pd.DataFrame(out, columns=cols)

    return fn


def stream_crawl_ingest(
    spark: SparkSession,
    landing_dir: str,
    process: Callable[[DataFrame, int], None],
    checkpoint: str,
    query_name: str = "crawl_ingest",
) -> StreamingQuery:
    """Start the ingest stream over ``landing_dir``; ``process`` receives
    (funnel-flag DataFrame in FLAGS_SCHEMA + a ``canon`` canonical-URL
    column, batch_id) once per micro-batch of newly landed files."""
    from roapi_spark.functions.web import canonical_url

    files = _landing_stream(spark, landing_dir, "*.warc*")

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        flags = batch_df.mapInPandas(
            _parse_extract_kernel(), FLAGS_SCHEMA
        ).withColumn("canon", canonical_url(F.col("target_uri")))
        process(flags, batch_id)

    return (
        files.writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", checkpoint)
        .queryName(query_name)
        .start()
    )


# --- URL frontier: crawl-revisit dedup with custom keyed state --------------

FRONTIER_OUTPUT = "canon string, warc_file string, is_new int"
# exact frontier state, hash-bucketed: the sorted canon set of one bucket
FRONTIER_EXACT_STATE = "seen array<string>"

# How many state groups the EXACT frontiers shuffle into. The r14 profile
# showed the applyInPandasWithState machinery costs ~1.5 ms per GROUP per
# batch (Arrow slice + Python call + state roundtrip), so keying state by
# the raw URL made every batch pay per *distinct URL* (~1.5 s at sf0.1
# arrival mixes) while the actual kernel work was microseconds. Bucketing
# the key space (same shape the Bloom-bounded frontier always had) makes
# the per-batch cost per *bucket*. Size it to state volume, not core
# count: each batch rewrites a touched bucket's canon list. It is a
# constant, not a setting: the bucket of a URL is part of the state key,
# so a checkpoint written under one bucket count cannot be read under
# another.
N_EXACT_BUCKETS = 64


def _exact_bucket_col(col) -> "F.Column":
    """Deterministic shuffle/state-bucket key for the exact frontiers."""
    return F.pmod(F.xxhash64(col), F.lit(N_EXACT_BUCKETS)).cast("int")


# Stateful streaming stages pay a fixed cost PER STATE PARTITION per
# micro-batch. Measured on stream_url_frontier at sf0.01 (4 cores, from
# q.recentProgress, 8 vs 4 partitions, warm): each added partition costs
# ~130 ms of state-store commit (stateOperators[].commitTimeMs) plus
# ~145 ms of fixed update work (allUpdatesTimeMs: the Python runner and
# its state-server setup), summed over tasks; ~90 ms of addBatch wall
# time. The state partition count is pinned from
# spark.sql.shuffle.partitions when a stateful stream first starts, so it
# should track ARRIVAL VOLUME and state size, not cluster width — exactly
# like N_EXACT_BUCKETS above. 8 is sized for fixture arrival rates; a
# high-volume frontier passes its own count to stream_state_partitions.
# It is not confined to the stateful stage: the gate serves call
# processAllAvailable() inside ``with stream_state_partitions(...)``, so
# the shuffles of their foreachBatch aggregations are planned at this
# count too (AQE can only coalesce below it).
STREAM_STATE_PARTITIONS = 8


class stream_state_partitions:
    """Context manager: pin spark.sql.shuffle.partitions to the
    streaming-state size for the lifetime of one gate serve (the value
    is captured into the new query's checkpoint at start), restoring
    the session value afterwards."""

    def __init__(self, spark: SparkSession, n: int | None = None) -> None:
        self.spark = spark
        self.n = n or STREAM_STATE_PARTITIONS

    def __enter__(self) -> None:
        self.old = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(self.n))

    def __exit__(self, *exc) -> None:
        self.spark.conf.set("spark.sql.shuffle.partitions", self.old)


def _first_seen_fn(sort_cols: list[str], out_key: str, out_file: str):
    """Factory for the exact first-seen state kernel both frontiers
    share (they had drifted as renamed copies): the first arrival EVER
    of a key emits is_new=1 — attributed deterministically to the
    smallest ``sort_cols`` row of its batch — and every later arrival,
    same batch or any later one, emits is_new=0.

    Bucketed form (round 15): the state group is a hash bucket of the
    key space and state is the bucket's seen-key set; per-key semantics
    are unchanged. Sorting the bucket's rows by ``sort_cols`` makes the
    first occurrence of each key in scan order exactly the old per-key
    lexicographic argmin, so the credited row is identical."""

    def fn(key, pdfs, state):
        import numpy as np
        import pandas as pd

        frames = list(pdfs)
        rows = (
            frames[0]
            if len(frames) == 1
            else pd.concat(frames, ignore_index=True)
        )
        if len(rows) > 1:
            rows = rows.sort_values(sort_cols, kind="stable")
        seen = set(state.get[0]) if state.exists else set()
        keys = rows[out_key].to_numpy()
        n = len(keys)
        flags = np.zeros(n, dtype="int64")
        for j in range(n):
            k = keys[j]
            if k not in seen:
                flags[j] = 1
                seen.add(k)
        # sorted() pins the state bytes (set order is hash-seed noise)
        state.update((sorted(seen),))
        yield pd.DataFrame(
            {
                out_key: keys,
                out_file: rows[out_file].to_numpy(),
                "is_new": flags,
            }
        )

    return fn


# per-canonical-URL crawl-revisit classification (bucketed state)
_frontier_fn = _first_seen_fn(["warc_file", "target_uri"], "canon", "warc_file")


def _parse_urls_kernel():
    import pandas as pd

    from roapi_spark.sources.warc import parse_warc_bytes

    def fn(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out: list[tuple[str, str]] = []
            for path, content in zip(pdf["path"], pdf["content"]):
                name = str(path).rsplit("/", 1)[-1]
                for rec in parse_warc_bytes(bytes(content), name):
                    if rec["warc_type"] == "response" and rec["target_uri"]:
                        out.append((name, rec["target_uri"]))
            yield pd.DataFrame(out, columns=["warc_file", "target_uri"])

    return fn


def stream_url_frontier(
    spark: SparkSession,
    landing_dir: str,
    process: Callable[[DataFrame, int], None],
    checkpoint: str,
    query_name: str = "url_frontier",
) -> StreamingQuery:
    """The crawl-frontier primitive: as WARC files land, classify every
    response URL as first-seen (fetch it) or already-seen (a revisit /
    re-crawl / retry), keyed on the CANONICAL form so tracking-param and
    case variants of one page collapse to one frontier entry.

    State is one entry per canonical URL in the checkpointed state
    store — the honest cost of an exact frontier — held as hash-bucketed
    canon sets (N_EXACT_BUCKETS groups) so the per-group state machinery
    is paid per bucket, not per URL. A production deployment bounds
    state the usual ways (TTL timeout for re-crawl-after-N-days
    semantics, or a bloom-filter front); the semantics here are the
    exact kernel those approximations approximate."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from roapi_spark.functions.web import canonical_url

    files = _landing_stream(spark, landing_dir, "*.warc*")
    urls = files.mapInPandas(
        _parse_urls_kernel(), "warc_file string, target_uri string"
    ).withColumn("canon", canonical_url(F.col("target_uri")))
    classified = (
        urls.withColumn("bucket", _exact_bucket_col(F.col("canon")))
        .groupBy("bucket")
        .applyInPandasWithState(
            _frontier_fn,
            FRONTIER_OUTPUT,
            FRONTIER_EXACT_STATE,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )
    return (
        classified.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .queryName(query_name)
        .start()
    )



# --- streaming index-driven fetch --------------------------------------------


def stream_index_fetch(
    spark: SparkSession,
    landing_dir: str,
    archive_dir: str,
    process: Callable[[DataFrame, int], None],
    checkpoint: str,
    pointer_filter: Callable[[DataFrame], DataFrame] | None = None,
    query_name: str = "index_fetch",
) -> StreamingQuery:
    """Fetcher-fleet consumption pattern: as CDX(J) pointer shards land
    in ``landing_dir`` (exactly-once per shard via the file-stream
    cursor), each micro-batch parses the new pointers (the SAME parse
    the batch cdx source uses), optionally filters them (codegen'd —
    the prune happens before any archive byte moves), and random-access
    fetches exactly the pointed-at records from the static archives
    under ``archive_dir``. ``process`` receives (fetched-records
    DataFrame — full WARC record schema plus ptr_* passthrough
    columns, batch_id) per micro-batch.

    Scale: per-batch cost = newly landed index volume + one seek+read
    per surviving pointer; the archives are never scanned. Shards may
    be plain text or gzipped — the line kernel sniffs the gzip magic
    per file (extension-independent, like the batch cdx source's
    gz-transparent text scan)."""
    from roapi_spark.sources.cdx import parse_cdx_lines
    from roapi_spark.sources.warc import fetch_records

    files = _landing_stream(spark, landing_dir, "*.cdx*")

    def _lines_kernel(batches):
        # gz-transparent like the batch cdx source (spark.read.text):
        # sniff the gzip magic per landed shard instead of trusting the
        # extension — a '*.cdx*' glob admits '.cdx.gz', and UTF-8-
        # decoding raw gzip bytes would feed mojibake to the FAILFAST
        # parser and kill the stream with an unrelated-looking error
        import gzip as _gzip

        import pandas as pd

        for pdf in batches:
            for content in pdf["content"]:
                raw = bytes(content)
                if raw[:2] == b"\x1f\x8b":
                    raw = _gzip.decompress(raw)
                yield pd.DataFrame(
                    {"value": raw.decode("utf-8").split("\n")}
                )

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        lines = batch_df.select("content").mapInPandas(
            _lines_kernel, "value string"
        )
        pointers = parse_cdx_lines(lines)
        if pointer_filter is not None:
            pointers = pointer_filter(pointers)
        process(fetch_records(pointers, archive_dir), batch_id)

    return (
        files.writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", checkpoint)
        .queryName(query_name)
        .start()
    )


# --- bounded URL frontier: bloom-fronted state ------------------------------
#
# The exact frontier above keeps one state row per canonical URL — the
# honest cost of exact semantics, and unbounded at crawl scale. This is
# the production-bounded variant: state is a FIXED number of bucket
# rows (one per hash bucket), each holding a fixed-size Bloom bitmap,
# so the checkpointed store is O(N_BUCKETS * BLOOM_BITS) bytes no
# matter how many URLs flow through. The trade is a declared
# false-positive budget: a brand-new URL whose bits happen to be set
# classifies as a revisit (never the reverse — revisits are always
# caught). All hashing is md5-derived, so classification is
# deterministic per input set: the oracle gate pins the EXACT expected
# first-seen counts and any FP within the fixture would hash-mismatch,
# which is the budget assertion (expected FPs at gate scale < 1e-6).

FRONTIER_BOUNDED_OUTPUT = (
    "bucket bigint, canon string, warc_file string, is_new int"
)
FRONTIER_BOUNDED_STATE = "bloom binary"
N_BLOOM_BUCKETS = 64
_BLOOM_BITS = 65536  # 8 KiB per bucket; 512 KiB total state, fixed
_BLOOM_K = 3


def bloom_bucket_col(canon) -> "F.Column":
    """Shuffle/bucket key: first 4 md5 bytes mod N_BLOOM_BUCKETS —
    JVM-side (codegen'd), matching int.from_bytes(digest[:4])."""
    return (
        F.conv(F.substring(F.md5(canon), 1, 8), 16, 10).cast("bigint")
        % N_BLOOM_BUCKETS
    )


def _bloom_positions(canon: str) -> list[int]:
    """Bit positions from md5 bytes 4..16 — disjoint from the bucket's
    bytes 0..4 so positions stay independent of bucket membership."""
    import hashlib

    h = hashlib.md5(canon.encode("utf-8")).digest()
    return [
        int.from_bytes(h[4 + 4 * i : 8 + 4 * i], "big") % _BLOOM_BITS
        for i in range(_BLOOM_K)
    ]


def _bounded_frontier_fn(key, pdfs, state):
    """Per-bucket state: a Bloom bitmap over every canonical ever seen
    in this bucket. First arrival whose bits are not all set emits
    is_new=1 (attributed to the smallest (warc_file, target_uri) row,
    same rule as the exact frontier); revisits — same batch or any
    later one — emit 0."""
    import numpy as np
    import pandas as pd

    frames = list(pdfs)
    rows = frames[0] if len(frames) == 1 else pd.concat(frames, ignore_index=True)
    if len(rows) > 1:
        rows = rows.sort_values(["warc_file", "target_uri"], kind="stable")
    bloom = (
        bytearray(state.get[0])
        if state.exists
        else bytearray(_BLOOM_BITS // 8)
    )
    canons = rows["canon"].to_numpy()
    flags = []
    for canon in canons:
        pos = _bloom_positions(canon)
        seen = all(bloom[p >> 3] & (1 << (p & 7)) for p in pos)
        if not seen:
            for p in pos:
                bloom[p >> 3] |= 1 << (p & 7)
        flags.append(0 if seen else 1)
    state.update((bytes(bloom),))
    yield pd.DataFrame(
        {
            "bucket": np.repeat(key[0], len(rows)),
            "canon": canons,
            "warc_file": rows["warc_file"].to_numpy(),
            "is_new": np.asarray(flags, dtype="int64"),
        }
    )


def stream_url_frontier_bounded(
    spark: SparkSession,
    landing_dir: str,
    process: Callable[[DataFrame, int], None],
    checkpoint: str,
    query_name: str = "url_frontier_bounded",
) -> StreamingQuery:
    """The bounded crawl frontier: same first-seen/revisit contract as
    stream_url_frontier, but state is N_BLOOM_BUCKETS fixed-size Bloom
    bitmaps instead of one row per canonical — O(512 KiB) checkpointed
    state regardless of crawl size, at a declared (md5-deterministic)
    false-positive budget of ~(n_bucket*K/BITS)^K per new URL."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from roapi_spark.functions.web import canonical_url

    files = _landing_stream(spark, landing_dir, "*.warc*")
    urls = files.mapInPandas(
        _parse_urls_kernel(), "warc_file string, target_uri string"
    ).withColumn("canon", canonical_url(F.col("target_uri")))
    classified = (
        urls.withColumn("bucket", bloom_bucket_col(F.col("canon")))
        .groupBy("bucket")
        .applyInPandasWithState(
            _bounded_frontier_fn,
            FRONTIER_BOUNDED_OUTPUT,
            FRONTIER_BOUNDED_STATE,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )
    return (
        classified.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .queryName(query_name)
        .start()
    )


def _last_delivered_epoch(table_path: str, query_name: str) -> int | None:
    """Latest epochId this query committed to the table (Delta txn
    idempotency): scan commit files NEWEST first and return the first
    commitInfo carrying our queryId. Commits are KB-scale json lines;
    the scan stops at the most recent match, so steady-state cost is
    one file read."""
    import json

    log_dir = os.path.join(table_path, "_delta_log")
    if not os.path.isdir(log_dir):
        return None
    versions = sorted(
        (n for n in os.listdir(log_dir) if n.endswith(".json")), reverse=True
    )
    for name in versions:
        try:
            with open(os.path.join(log_dir, name)) as f:
                lines = f.readlines()
        except OSError:
            continue  # unreadable foreign commit: keep scanning
        for line in lines:
            if not line.strip():
                continue
            try:
                info = json.loads(line).get("commitInfo")
            except ValueError:
                break  # unparseable foreign commit: next file
            if info is None:
                continue
            params = info.get("operationParameters") or {}
            if params.get("queryId") == query_name:
                # OUR commit with a missing/garbled epochId must fail
                # LOUD: skipping it would let the scan return an older
                # epoch, and a replayed batch would then re-append —
                # silent duplicate rows instead of idempotent delivery
                try:
                    return int(params["epochId"])
                except (KeyError, TypeError, ValueError) as exc:
                    raise ValueError(
                        f"delta commit {name} carries queryId="
                        f"{query_name!r} but no parseable epochId: "
                        f"{params.get('epochId')!r}"
                    ) from exc
            break  # a foreign writer's commitInfo: not ours, next file
    return None

def stream_crawl_to_delta(
    spark: SparkSession,
    landing_dir: str,
    table_path: str,
    checkpoint: str,
    min_text: int = 1,
    query_name: str = "crawl_to_delta",
    doc_mapper: Callable[[DataFrame], DataFrame] | None = None,
) -> StreamingQuery:
    """Streaming corpus DELIVERY: each micro-batch of newly landed WARC
    files is parsed + extracted, filtered to pages with usable main text,
    collapsed on the canonical URL within the batch, shaped into
    documents rows (doc_id/source parsed from the URL), and APPENDED to
    a Delta table — one atomic commit per batch through this repo's own
    writer, so the corpus table is readable mid-stream by any Delta
    client and by the CDF-based incremental consumers downstream.

    Exactly-once end to end: the file-stream checkpoint gives
    per-file delivery, and the APPEND itself is idempotent via the
    Delta txn pattern — every commit records (queryId, epochId) in its
    commitInfo, and a replayed batch (crash between the Delta commit
    and the checkpoint commit) is detected and skipped by comparing
    against the table's latest delivered epoch for this queryId. The
    contract mirrors delta-spark's streaming sink (txn appId/version
    dedup): checkpoint and table move together. A reset checkpoint
    against a multi-epoch table fails LOUDLY (batch id behind the
    delivered epoch — silently skipping would drop any new files mixed
    into the reset batches); a reset against a single-epoch table is
    indistinguishable from a crash replay by ids alone and is skipped,
    exactly like delta-spark's sink — land new files under a new
    query_name (or fresh table) after wiping a checkpoint.

    ``doc_mapper`` shapes extracted pages into the rows to append: it
    receives the per-batch DataFrame (FLAGS_SCHEMA + ``extracted`` +
    ``canon``, already filtered to usable pages and batch-deduped on
    the canonical URL). The default parses doc_id/source from
    ``https://host/<source>/<doc_id>`` URL layouts (the synthetic-
    corpus shape); real crawls pass their own mapping — the default's
    regex yields NULL doc_ids on any other URL shape."""
    from roapi_spark.functions.web import canonical_url
    from roapi_spark.sinks.delta import write_delta

    def default_mapper(pages: DataFrame) -> DataFrame:
        return pages.select(
            F.regexp_extract("canon", r"://[^/]+/[^/]+/(\d+)", 1)
            .cast("bigint")
            .alias("doc_id"),
            F.col("extracted").alias("text"),
            F.regexp_extract("canon", r"://[^/]+/([^/]+)/", 1).alias(
                "source"
            ),
            F.col("norm_len").alias("n_chars"),
        )

    mapper = doc_mapper if doc_mapper is not None else default_mapper

    files = _landing_stream(spark, landing_dir, "*.warc*")

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        last = _last_delivered_epoch(table_path, query_name)
        if last is not None and batch_id == last:
            return  # crash-replayed batch: its commit already landed
        if last is not None and batch_id < last:
            # a resumed stream's ids only ever continue from last+1 or
            # replay exactly `last`; anything lower means the checkpoint
            # was wiped and restarted against an already-delivered
            # table — silently skipping would DROP whatever new files
            # this batch carries while the file-stream cursor marks
            # them consumed. Fail loud instead.
            raise RuntimeError(
                f"stream {query_name!r}: batch {batch_id} is behind the "
                f"table's last delivered epoch {last} — the checkpoint "
                "was reset against an already-delivered table. Deliver "
                "to a fresh table, restore the checkpoint, or use a new "
                "query_name."
            )
        flags = batch_df.mapInPandas(
            _parse_extract_kernel(include_text=True),
            FLAGS_SCHEMA + ", extracted string",
        )
        docs = mapper(
            flags.filter(
                (F.col("is_html") == 1) & (F.col("norm_len") >= min_text)
            )
            .withColumn("canon", canonical_url(F.col("target_uri")))
            .dropDuplicates(["canon"])
        )
        # an empty micro-batch (stream start, no new files) must not
        # publish an empty commit; persist so the emptiness probe and
        # the write share ONE extraction pass instead of recomputing
        docs = docs.persist()
        try:
            if docs.take(1):
                write_delta(
                    docs,
                    table_path,
                    mode="append",
                    operation="STREAMING UPDATE",
                    operation_params={
                        "queryId": query_name,
                        "epochId": str(batch_id),
                    },
                )
        finally:
            docs.unpersist()

    return (
        files.writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", checkpoint)
        .queryName(query_name)
        .start()
    )


# --- streaming sitemap seed discovery ----------------------------------------

SEED_OUTPUT = "surt string, sitemap_file string, is_new int"


# per-SURT seed discovery — the discovery twin of _frontier_fn: the
# first time a sitemap offers a page key it is a NEW seed (feed the
# fetcher); every later offer (re-landed shard, overlapping sitemaps,
# next discovery round) is known
_seed_frontier_fn = _first_seen_fn(["sitemap_file", "loc"], "surt", "sitemap_file")


def stream_sitemap_seeds(
    spark: SparkSession,
    landing_dir: str,
    process: Callable[[DataFrame, int], None],
    checkpoint: str,
    query_name: str = "sitemap_seeds",
) -> StreamingQuery:
    """Seed discovery as a stream: urlset shards land (a site publishes
    or refreshes its sitemaps), each micro-batch parses ONLY the newly
    landed files with the SAME codegen'd parse the batch sitemap source
    uses (sources/sitemap.parse_sitemap_content — shared, so the two
    can never drift), SURT-keys every loc (web.url_to_surt, the index/
    frontier key), and classifies each offered page first-seen vs
    already-known through keyed state — the discovery front-end that
    feeds a fetcher fleet only NEW work.

    Mechanics: the text file-stream source is the cursor (wholetext —
    one row per landed file, .gz-transparent; sitemap files are
    spec-capped at 50 MB so whole-file rows are format-bounded), its
    checkpoint gives exactly-once per-file delivery across restarts.
    State is one entry per SURT, hash-bucketed (N_EXACT_BUCKETS) like
    the URL frontier — the exact kernel; the Bloom-bounded frontier
    shows the constant-state variant of the same pattern."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from roapi_spark.functions.web import url_to_surt
    from roapi_spark.sources.sitemap import parse_sitemap_content

    raw = (
        spark.readStream.format("text")
        .option("wholetext", "true")
        .option("pathGlobFilter", "*.xml*")
        .schema("value string")
        .load(landing_dir)
        .select(
            "value",
            F.element_at(F.split(F.input_file_name(), "/"), -1).alias(
                "sitemap_file"
            ),
        )
    )
    # a <sitemapindex> landing here would be silently consumed with
    # zero seeds (its <sitemap> children carry no <url> entries) —
    # fail loud instead: index expansion is the BATCH source's job
    # (sources/sitemap.resolve_files); streams land urlset shards
    raw = raw.withColumn(
        "value",
        F.when(
            F.col("value").contains("<sitemapindex"),
            F.raise_error(
                F.concat(
                    F.lit(
                        "sitemap INDEX file landed in the streaming "
                        "seed directory (land urlset shards; the "
                        "batch sitemap source expands indexes): "
                    ),
                    F.col("sitemap_file"),
                )
            ).cast("string"),
        ).otherwise(F.col("value")),
    )
    seeds = parse_sitemap_content(raw).select(
        url_to_surt(F.col("loc")).alias("surt"), "loc", "sitemap_file"
    )
    classified = (
        seeds.withColumn("bucket", _exact_bucket_col(F.col("surt")))
        .groupBy("bucket")
        .applyInPandasWithState(
            _seed_frontier_fn,
            SEED_OUTPUT,
            FRONTIER_EXACT_STATE,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )
    return (
        classified.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .queryName(query_name)
        .start()
    )


# --- TTL recrawl frontier ------------------------------------------------------

TTL_OUTPUT = "surt string, cdx_file string, verdict string"
# bucketed per-SURT last-capture-day map as parallel sorted arrays
TTL_STATE = "surts array<string>, days array<int>"


def _ttl_frontier_fn(ttl_days: int):
    """Per-SURT recrawl state: last capture day (int yyyymmdd -> epoch
    days via datetime, so month/year boundaries are real). A capture is
    'new' (never seen), 'due' (last capture >= ttl_days older — refetch
    and advance state) or 'fresh' (inside the TTL — skip). The
    re-crawl-after-N-days semantics the exact frontier's docstring
    points at, as REAL bounded state: one int per SURT regardless of
    how many times a page is re-offered — held bucketed (see
    N_EXACT_BUCKETS) as a surt->day map per hash bucket, so per-batch
    state machinery is paid per bucket, not per SURT. Per-SURT rows are
    still processed in (fetch_ts, cdx_file) order, so verdicts are
    identical to the per-key form."""

    import datetime as _dt

    import numpy as np
    import pandas as pd

    def day_num(ts14: str) -> int:
        if len(ts14) < 8 or not ts14[:8].isdigit():
            # name the offending value: an opaque int('') traceback
            # from inside the state worker is undebuggable
            raise ValueError(
                f"CDXJ fetch_ts {ts14!r} is not a 14-digit "
                "timestamp — malformed index line reached the "
                "recrawl frontier"
            )
        return _dt.date(
            int(ts14[0:4]), int(ts14[4:6]), int(ts14[6:8])
        ).toordinal()

    def fn(key, pdfs, state):
        frames = list(pdfs)
        rows = (
            frames[0]
            if len(frames) == 1
            else pd.concat(frames, ignore_index=True)
        )
        if len(rows) > 1:
            rows = rows.sort_values(["fetch_ts", "cdx_file"], kind="stable")
        if state.exists:
            st = state.get
            last_by_surt = dict(zip(st[0], st[1]))
        else:
            last_by_surt = {}
        out_v = []
        for surt, ts in zip(rows["surt_key"], rows["fetch_ts"]):
            d = day_num(str(ts))
            last = last_by_surt.get(surt)
            if last is None:
                v = "new"
            elif d - last >= ttl_days:
                v = "due"
            else:
                v = "fresh"
            if v != "fresh":
                last_by_surt[surt] = max(d, last or 0)
            out_v.append(v)
        surts = sorted(last_by_surt)  # pin state bytes deterministically
        state.update((surts, [last_by_surt[s] for s in surts]))
        yield pd.DataFrame(
            {
                "surt": rows["surt_key"].to_numpy(),
                "cdx_file": rows["cdx_file"].to_numpy(),
                "verdict": np.asarray(out_v, dtype=object),
            }
        )

    return fn


def stream_recrawl_frontier(
    spark: SparkSession,
    landing_dir: str,
    process: Callable[[DataFrame, int], None],
    checkpoint: str,
    ttl_days: int = 1,
    query_name: str = "recrawl_frontier",
) -> StreamingQuery:
    """TTL recrawl frontier over a landing directory of CDXJ index
    shards: each micro-batch parses newly landed pointer lines with the
    SAME codegen'd parse the batch cdx source uses
    (sources/cdx.parse_cdx_lines — shared, no drift), keys captures by
    SURT, and classifies each against per-SURT last-capture-day state:
    never seen -> 'new', older than ``ttl_days`` -> 'due' (refetch),
    inside the TTL -> 'fresh' (skip). The third frontier variant:
    stream_url_frontier is exact first-seen, the Bloom variant bounds
    state size, this one bounds RE-FETCH RATE — together they are the
    scheduling core of a continuous crawl. The index lines are
    ~1000x smaller than archives; per-batch cost is index arrival
    volume; state is one entry per SURT in bucketed maps."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from roapi_spark.sources.cdx import parse_cdx_lines

    lines = (
        spark.readStream.format("text")
        .option("pathGlobFilter", "*.cdx*")
        .schema("value string")
        .load(landing_dir)
        .select(
            "value",
            F.element_at(F.split(F.input_file_name(), "/"), -1).alias(
                "cdx_file"
            ),
        )
    )
    parsed = parse_cdx_lines(lines, passthrough=("cdx_file",)).select(
        "surt_key", "fetch_ts", "cdx_file"
    )
    classified = (
        parsed.withColumn("bucket", _exact_bucket_col(F.col("surt_key")))
        .groupBy("bucket")
        .applyInPandasWithState(
            _ttl_frontier_fn(ttl_days),
            TTL_OUTPUT,
            TTL_STATE,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )
    return (
        classified.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .queryName(query_name)
        .start()
    )
