"""Content-addressed snapshot keys for build-once serving artifacts
(IVF layouts, near-dup pair graphs).

The cache key is derived from the *parquet footer* of the source file —
the footer carries the row-group offsets, column statistics (min/max),
row counts and the schema, so any regeneration of the data changes it
even when the file size and mtime are preserved (e.g. an in-place
``cp -p`` style rewrite, which a ``(path, mtime, size)`` key cannot
see). Reading the footer is O(footer size) — a few KB — never a data
scan, so keying stays cheap at any corpus size.

Reference parity note: the reference engine (columnq) reloads tables
wholesale on registration and has no persistent index artifacts, so
this invalidation problem is ours alone — it comes with the build-once
serving layouts that make IVF/dedup serving O(1) per query at 100 TB.
"""

from __future__ import annotations

import hashlib
import os
import struct

_MAGIC = b"PAR1"


def parquet_footer_digest(path: str) -> str:
    """md5 of the parquet footer (thrift metadata + length trailer).

    ``path`` may be a single parquet file or a directory of part files
    (a Spark write); for a directory the digest covers every
    ``*.parquet`` part in sorted order, so added/removed/rewritten
    parts all change the key.
    """
    if os.path.isdir(path):
        h = hashlib.md5()
        for name in sorted(os.listdir(path)):
            if name.endswith(".parquet"):
                h.update(name.encode())
                h.update(parquet_footer_digest(os.path.join(path, name)).encode())
        return h.hexdigest()
    with open(path, "rb") as f:
        f.seek(0, os.SEEK_END)
        size = f.tell()
        if size < 12:
            raise ValueError(f"not a parquet file (too small): {path}")
        f.seek(size - 8)
        trailer = f.read(8)
        if trailer[4:] != _MAGIC:
            raise ValueError(f"not a parquet file (bad magic): {path}")
        (footer_len,) = struct.unpack("<I", trailer[:4])
        footer_len = min(footer_len, size - 8)
        f.seek(size - 8 - footer_len)
        footer = f.read(footer_len + 8)
    h = hashlib.md5()
    h.update(struct.pack("<Q", size))
    h.update(footer)
    return h.hexdigest()


def cache_root() -> str:
    root = os.environ.get("SPARK_GRAFT_CACHE_DIR") or os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        ".cache",
    )
    os.makedirs(root, exist_ok=True)
    return root


def snapshot_cache_dir(src_path: str, tag: str) -> str:
    """Deterministic cache directory for an artifact derived from
    ``src_path``: same content -> same dir (reuse), any content change —
    including a same-size same-mtime in-place rewrite -> new dir
    (rebuild). ``tag`` carries the artifact kind + version."""
    key = hashlib.md5(
        f"{os.path.abspath(src_path)}:{parquet_footer_digest(src_path)}:{tag}".encode()
    ).hexdigest()[:16]
    return os.path.join(cache_root(), f"{tag.split('-')[0]}_{key}")


def build_once(out: str, ready, build) -> str:
    """Concurrency-safe build-once guard for artifact directories.

    ``ready(dir) -> bool`` decides whether a complete artifact exists;
    ``build(tmp_dir)`` must write the ENTIRE artifact into ``tmp_dir``.
    Builders that race (two server threads, two sessions) each build
    into their own tmp sibling and attempt one atomic ``os.rename`` into
    place — the first wins, losers discard their tmp. This replaces the
    bare ``write.mode("overwrite").parquet(out)`` pattern, where two
    concurrent Spark jobs sharing one output directory's ``_temporary``
    staging area can clobber each other's files.
    """
    import shutil
    import threading

    if ready(out):
        return out
    tmp = f"{out}.tmp-{os.getpid()}-{threading.get_ident()}"
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        build(tmp)
        try:
            os.rename(tmp, out)
        except OSError:
            # Either another builder won the rename (out is now ready —
            # fine, ours is discarded), or `out` is a STALE PARTIAL left
            # by a crashed pre-build_once writer (exists, never ready):
            # self-heal by clearing it and retrying once, else every
            # future call dead-ends in RuntimeError until a human rm -rf.
            if not ready(out):
                shutil.rmtree(out, ignore_errors=True)
                try:
                    os.rename(tmp, out)
                except OSError:
                    pass  # raced with another healer; ready() decides below
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if not ready(out):
        raise RuntimeError(f"artifact build produced no usable {out}")
    return out


def parquet_ready(d: str) -> bool:
    return os.path.exists(os.path.join(d, "_SUCCESS"))


KNOWN_TAGS = (
    # every artifact tag in the codebase, version included — prune_cache
    # derives the live-key set from (active sources x these); a test pins
    # that no snapshot_cache_dir call site uses a tag missing here
    "lshpairs-v4",
    "shpairs-v1",
    "components-v1",
    "incrbandsfull-v1",
    "incrmerged-v2",
    "pq-v1",
    "sq8-v1",
    "ivf-v3",
    "lsh-v1",
    "lshmulti-v1",
    "embpairslbl-v1",
    "embpairscid-v3",  # suffix tracks _IVF_LAYOUT_VERSION (edge set is a
    # function of the clustering, not just the source snapshot)
    "streambands-v1",
    "bm25-v1",
    "bigramlm-v1",
    "spancov-k8-v1",  # suffix tracks REWRITE_K (= curation.SPAN_K): the
    # covered positions are a function of the gram width
    "spanidx-k8-v1",  # same suffix rule (streaming gram index)
    "dsirlr-b256-src0-v1",  # suffix tracks DSIR_BUCKETS + DSIR_TARGET
    "deltamerge-v1",  # post-MERGE Delta table (q_delta_merge's serve path)
    "deltazorder-v1",  # ZORDER-clustered Delta table (q_delta_zorder's serve path)
    "deltackpt-v1",  # checkpointed Delta table (q_delta_checkpoint_read)
    "srcfmt-v1",  # source-format gate fixtures (gates q_src_*)
    "sqlgatefix-v1",  # pristine v0 delta fixture the SQL gates copy per run
    "sqlcdcfix-v1",  # CDF-enabled variant (q_sql_cdc_images)
    "srchive-v1",  # hive-partitioned gate fixture (q_src_hive_partitioned)
    "srchudi-v1",  # Hudi CoW timeline gate fixture (q_src_hudi)
    "srciceberg-v1",  # Iceberg v2 metadata gate fixture (q_src_iceberg)
    "encgate-v1",  # response-encoder gate outputs (gates q_enc_*)
    "bpe-m8-v1",  # learned BPE merges + post-merge vocab (suffix = BPE_MERGES)
    "warc-v6",  # crawl-archive gate fixture (crawl q_src_warc), 8 file shards
    # + RFC 3986 hrefs, cross-host links, revisit records, CDXJ pointer
    # files with true per-capture (offset, length) coordinates
    "cdx-v1",  # CDXJ index fixture (crawl q_src_cdx), 4 SURT-sorted shards
    "unigram-t2-v1",  # unigram trajectory + vocab (suffix = EM_T)
    "warcimg-v1",  # crawl-image gate fixture (crawl multimodal_crawl_images)
    "sitemap-v3",  # sitemaps.org fixture (crawl q_src_sitemap):
    # index + 3 urlset shards, decorrelated optional-field residues
    "crawllinks-v1",  # materialized WAT link snapshot (src/dst canon)
    "crawllinkstext-v1",  # WAT snapshot with anchor text
    "cdxmerge-v1",  # two-round crawl fixture (crawl q_cdx_merge):
    # r1+r2 archives + each round's CDXJ shard set
    "cdxmaster-v1",  # range-layout latest-capture master index merged
    # from the two-round fixture (crawl q_cdx_prefix_scan)
    "cdxzipnum-v1",  # zipnum (compressed-block) master index, same
    # fixture (crawl q_cdx_zipnum_lookup)
)


def prune_cache(active_src_paths: list[str], min_age_s: float = 3600.0) -> list[str]:
    """Garbage-collect orphaned snapshot artifacts.

    Every corpus refresh changes the footer digest and therefore the
    cache key, so a long-lived server with ``reload_interval`` tables
    strands one artifact generation per rebuild. An artifact directory is
    LIVE iff its name equals ``snapshot_cache_dir(src, tag)`` for some
    currently registered source and some ``KNOWN_TAGS`` entry; everything
    else under the cache root matching the artifact naming pattern is
    removed — except entries younger than ``min_age_s`` (protects a
    concurrent builder racing its rename). Returns removed names.
    """
    import re
    import shutil
    import time as _time

    live: set[str] = set()
    for src in active_src_paths:
        for tag in KNOWN_TAGS:
            try:
                live.add(os.path.basename(snapshot_cache_dir(src, tag)))
            except (OSError, ValueError):
                continue
    root = cache_root()
    removed: list[str] = []
    now = _time.time()
    for name in sorted(os.listdir(root)):
        path = os.path.join(root, name)
        if not os.path.isdir(path):
            continue
        if not re.fullmatch(r"[a-z0-9]+_[0-9a-f]{16}(\.tmp-.*)?", name):
            continue  # not an artifact dir (e.g. refresh_stage)
        if name in live:
            continue
        if now - os.path.getmtime(path) < min_age_s:
            continue
        shutil.rmtree(path, ignore_errors=True)
        removed.append(name)
    return removed
