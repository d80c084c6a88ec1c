"""The frontier engine: priority waves over snapshot tables, resumable.

End-to-end slice per wave (SURVEY §7 minimum slice; flagship entry):

    pending = frontier ANTI JOIN done          (append-only retirement set)
        │
        ├─ url-level collapse (same url rediscovered → one fetch)
        ├─ seen filter: incremental bloom prefilter + exact anti-join
        ├─ first-wins per canonical key within the wave (D1, ksrf.py:106-142)
        ├─ robots filter + per-host budget top-k (salted; politeness.py)
        ▼
    fetch stand-in: join selected urls to the pages table (html BINARY)
        ▼
    extract_text_udf (byte-identical reference pipeline, P5+P7+P9)
        ▼
    commits (each an atomic snapshot, crash-safe resume per
    law_codes.py:752-776 checkpoint semantics):
        documents += wave output
        seen      += scheduled keys
        done      += scheduled / duplicate / robots-denied urls
        metrics   += per-partition lineage

State and cost:
- ALL state tables are append-only — no wave ever rewrites a table, so
  per-wave cost is O(pending), not O(frontier). The old design's
  full-frontier status overwrite per wave would be O(frontier × waves).
- ``pending`` is an anti-join on ``url`` against ``done``, and the seen
  filter's truth tier an anti-join on ``key_hash`` against ``seen``;
  both are key-hash equi-joins that Catalyst/AQE plan.
- the seen filter has one Bloom prefilter (``BLOOM_BITS``/``BLOOM_K``),
  held on the driver and maintained INCREMENTALLY: built once from the
  ``seen`` table at engine construction (resume), then OR-merged with
  each wave's newly-scheduled keys — never rebuilt from the full table.
  Bloom misses skip the ``seen`` anti-join; hits go through it, so the
  Bloom never changes which urls are new.
- every other join is broadcast (politeness config) or a key-hash
  equi-join; nothing collects rows to the driver except scalar counts
  and bloom blobs.
"""

from __future__ import annotations

import os
import time

import numpy as np
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from judyst_web_crawler_spark.functions import canonical as C
from judyst_web_crawler_spark.functions.extraction import extract_text, extract_text_udf
from judyst_web_crawler_spark.operators.dedup_fuzzy import minhash_index_write_sigs
from judyst_web_crawler_spark.operators.politeness import apply_robots, budget_topk
from judyst_web_crawler_spark.operators.seen import (
    bloom_bits_for,
    build_bloom,
    filter_new_with_bloom,
)
from judyst_web_crawler_spark.sources.catalog import SnapshotCatalog

FRONTIER_TABLE = "frontier_state"
SEEN_TABLE = "seen"
DONE_TABLE = "done_urls"
DOCS_TABLE = "documents"
METRICS_TABLE = "metrics"

# Seen-filter Bloom geometry: ≥12 bits per key up to 10^6 keys (2^24
# bits, ≈0.1% false positives at 10^6 keys; a false positive costs an
# exact-join probe, never a dropped url), probed k=5 times per key.
BLOOM_BITS = bloom_bits_for(1_000_000, 12)
BLOOM_K = 5


def _priority():
    return [F.col("depth").asc(), F.col("page_seq").asc(), F.col("intra_page_seq").asc()]


def get_or_fetch(requests: DataFrame, store: DataFrame, fetch, key_col: str = "url"):
    """D4 (ksrf.py:258-274 get-or-fetch memoization): serve requests from
    the store when cached, run ``fetch`` only for the misses.

    ``fetch(misses_df) -> DataFrame`` must return rows with the store's
    schema. Returns ``(result, fetched)`` — result is hits ∪ fetched;
    the caller merges ``fetched`` back into the store (the reference's
    write-back at ksrf.py:273 = a MERGE/append snapshot commit here).
    Plan shape: one semi-join + one anti-join on the key — both
    key-hash equi-joins, no full-store scan beyond them.
    """
    hits = store.join(requests.select(key_col), on=key_col, how="left_semi")
    misses = requests.join(store.select(key_col), on=key_col, how="left_anti")
    fetched = fetch(misses)
    return hits.unionByName(fetched), fetched


class FrontierEngine:
    def __init__(
        self,
        spark: SparkSession,
        catalog: SnapshotCatalog,
        politeness: DataFrame | None = None,
        fingerprint_k: int | None = None,
        minhash_index_path: str | None = None,
        minhash_bands: int = 16,
    ):
        self.spark = spark
        self.catalog = catalog
        self.politeness = politeness
        # fingerprint_k: compute MinHash(k)+SimHash per document IN the
        # extract pass (one Arrow crossing; no re-read of the docs table
        # for the dedup-prep stage). None = extraction only.
        self.fingerprint_k = fingerprint_k
        # minhash_index_path: commit each wave's (key_hash, signature)
        # rows to the persisted band-bucket index so near-dup queries
        # against ALL previously crawled documents never re-fingerprint
        # anything (per-wave cost: O(new × matching buckets)).
        if minhash_index_path is not None:
            if not fingerprint_k:
                raise ValueError("minhash_index_path requires fingerprint_k")
            # bands only constrain k when an index will actually be
            # banded — fingerprint-only engines accept any k
            if minhash_bands <= 0 or fingerprint_k % minhash_bands:
                raise ValueError("minhash_bands must divide fingerprint_k")
        self._minhash_index_path = minhash_index_path
        self._minhash_bands = minhash_bands
        if minhash_index_path is not None:
            # restart reconciliation: docs commit and index commit are
            # separate writes, so a crash between them leaves a wave's
            # documents permanently unindexed (silent recall loss in
            # every later near_dups query). The wave-marker protocol
            # (marker written AFTER sigs) makes the gap detectable and
            # repairable here, the same once-per-engine-lifetime recovery
            # model as _repair_partial_wave.
            self._reconcile_minhash_index()
        self._bloom_bc = None
        if catalog.exists(SEEN_TABLE):
            # resume: rebuild once from the committed seen set
            blob = build_bloom(catalog.read(SEEN_TABLE), "key_hash", BLOOM_BITS, BLOOM_K)
            self._bloom = np.frombuffer(blob, dtype=np.uint8).copy()
        else:
            self._bloom = np.zeros(BLOOM_BITS // 8, dtype=np.uint8)

    # -- bloom maintenance -------------------------------------------------

    def _bloom_broadcast(self):
        if self._bloom_bc is None:
            self._bloom_bc = self.spark.sparkContext.broadcast(self._bloom.tobytes())
        return self._bloom_bc

    def _bloom_add(self, keys_df: DataFrame) -> None:
        """OR this wave's newly-scheduled keys into the running bloom."""
        blob = build_bloom(keys_df, "key_hash", BLOOM_BITS, BLOOM_K)
        self._bloom |= np.frombuffer(blob, dtype=np.uint8)
        if self._bloom_bc is not None:
            self._bloom_bc.unpersist()
            self._bloom_bc = None

    # -- bootstrap ---------------------------------------------------------

    def bootstrap(self, seeds: DataFrame) -> None:
        """Seed the frontier. ``seeds``: url, page_seq, intra_page_seq
        (FIXTURES.md §2); host/depth/canonical key derived here. Discovery
        of new URLs mid-crawl = another append to the frontier table."""
        frontier = (
            seeds.withColumn("host", C.url_host("url"))
            .withColumn("depth", F.lit(0))
            .withColumn("canonical_url", C.canonical_url("url"))
            .withColumn("key_hash", C.key_hash(C.canonical_url("url")))
            .select(
                "url", "host", "depth", "page_seq", "intra_page_seq",
                "canonical_url", "key_hash",
            )
        )
        self.catalog.overwrite(FRONTIER_TABLE, frontier, partition_by=["depth"])

    def enqueue(self, seeds: DataFrame, depth: int) -> None:
        """Append newly-discovered URLs (deeper frontier levels)."""
        frontier = (
            seeds.withColumn("host", C.url_host("url"))
            .withColumn("depth", F.lit(depth))
            .withColumn("canonical_url", C.canonical_url("url"))
            .withColumn("key_hash", C.key_hash(C.canonical_url("url")))
            .select(
                "url", "host", "depth", "page_seq", "intra_page_seq",
                "canonical_url", "key_hash",
            )
        )
        self.catalog.append(FRONTIER_TABLE, frontier, partition_by=["depth"])

    def forget(self, urls: DataFrame) -> None:
        """Un-retire urls: rewrite DONE and SEEN without them so a
        recrawl generation can re-fetch (Iceberg's rewrite-files shape;
        here the tables are rewritten whole). The Bloom keeps the stale
        keys — bits cannot be cleared — so a forgotten key probes
        maybe-seen and goes through the exact anti-join against the
        rewritten SEEN, which lets it through: staleness costs prefilter
        efficiency for the forgotten keys, never correctness."""
        u = urls.select("url").distinct().localCheckpoint(eager=True)
        # SEEN dedups by CANONICAL key, not url: a variant url that
        # shares the key would keep its seen row under a url anti-join
        # and the recrawl would re-retire as 'dup' — rewrite SEEN on the
        # forgotten urls' canonical key hashes instead.
        keys = u.select(
            C.key_hash(C.canonical_url(F.col("url"))).alias("key_hash")
        ).distinct()
        # FRONTIER too: otherwise the url's ORIGINAL row (better
        # priority band) survives and the wave's url-collapse window
        # would schedule it with first-crawl priority instead of the
        # stale rank. Idempotent — rerun the whole forget on failure.
        for t, on_df, on_col, pby in (
            (FRONTIER_TABLE, u, "url", ["depth"]),
            (DONE_TABLE, u, "url", None),
            (SEEN_TABLE, keys, "key_hash", None),
        ):
            if self.catalog.exists(t):
                kept = self.catalog.read(t).join(on_df, on=on_col, how="left_anti")
                kept = kept.localCheckpoint(eager=True)  # read before overwrite
                self.catalog.overwrite(t, kept, partition_by=pby)

    def enqueue_recrawl(
        self,
        pages: DataFrame,
        now,
        min_age_s: int = 0,
        per_host_k: int | None = None,
    ) -> int:
        """Stale-first recrawl intake (operators/recrawl.py): rank the
        oldest captures per host, un-retire them, and enqueue them at
        ``RECRAWL_DEPTH`` — priority sorts depth FIRST, so the whole
        recrawl generation ranks after every fresh discovery at any real
        depth (a depth-0 band would instead OUTRANK depth≥1 discoveries
        and starve first fetches). Returns the number of urls enqueued."""
        from judyst_web_crawler_spark.operators.recrawl import (
            RECRAWL_DEPTH,
            recrawl_seeds,
        )

        seeds = recrawl_seeds(
            pages, now, min_age_s=min_age_s, per_host_k=per_host_k
        ).localCheckpoint(eager=True)
        n = seeds.count()
        if n:
            self.forget(seeds)
            self.enqueue(seeds, depth=RECRAWL_DEPTH)
        return n

    # -- wave --------------------------------------------------------------

    def pending(self) -> DataFrame:
        frontier = self.catalog.read(FRONTIER_TABLE)
        if self.catalog.exists(DONE_TABLE):
            done = self.catalog.read(DONE_TABLE).select("url")
            return frontier.join(done, on="url", how="left_anti")
        return frontier

    def next_wave_id(self) -> int:
        """Max committed wave across metrics AND documents, +1 — metrics
        commits LAST in a wave, so a crash mid-wave must not reuse the
        half-committed wave id (the docs rows already carry it)."""
        w = -1
        if self.catalog.exists(METRICS_TABLE):
            row = self.catalog.read(METRICS_TABLE).agg(F.max("wave").alias("w")).collect()[0]
            w = max(w, row["w"] if row["w"] is not None else -1)
        if self.catalog.exists(DOCS_TABLE):
            row = self.catalog.read(DOCS_TABLE).agg(F.max("wave").alias("w")).collect()[0]
            w = max(w, row["w"] if row["w"] is not None else -1)
        return w + 1

    def _repair_partial_wave(self) -> None:
        """Crash recovery (runs once per engine lifetime, before the first
        wave): the documents append is a wave's FIRST commit, so after a
        crash some fetched urls may be missing from ``done``/``seen``.
        Roll those forward — append their retirement and seen rows — so
        the wave protocol is effectively atomic at the documents commit.
        """
        if not self.catalog.exists(DOCS_TABLE):
            return
        docs = self.catalog.read(DOCS_TABLE)
        orphans = docs.select("url", "key_hash", "wave")
        # only waves that never reached the metrics commit (a wave's LAST
        # commit) are crash suspects. Without this filter, urls that
        # ``forget()`` deliberately un-retired look like orphans (docs
        # row, no done row) and repair would silently re-retire them,
        # cancelling the recrawl generation.
        if self.catalog.exists(METRICS_TABLE):
            committed = self.catalog.read(METRICS_TABLE).select("wave").distinct()
            orphans = orphans.join(committed, on="wave", how="left_anti")
        if self.catalog.exists(DONE_TABLE):
            orphans = orphans.join(
                self.catalog.read(DONE_TABLE).select("url"), on="url", how="left_anti"
            )
        orphans = orphans.localCheckpoint(eager=True)
        if orphans.limit(1).count() == 0:
            return
        done_rows = orphans.select(
            "url", F.lit("scheduled").alias("retire_status"), "wave"
        )
        if self.catalog.exists(DONE_TABLE):
            self.catalog.append(DONE_TABLE, done_rows)
        else:
            self.catalog.overwrite(DONE_TABLE, done_rows)
        seen_rows = orphans.select("key_hash", "url", F.col("wave").alias("first_seen_wave"))
        if self.catalog.exists(SEEN_TABLE):
            seen_rows = seen_rows.join(
                self.catalog.read(SEEN_TABLE).select("key_hash"),
                on="key_hash",
                how="left_anti",
            )
        # bloom before seen — same superset-invariant ordering as the
        # wave commit (see run_wave step 6)
        self._bloom_add(seen_rows)
        if self.catalog.exists(SEEN_TABLE):
            self.catalog.append(SEEN_TABLE, seen_rows)
        else:
            self.catalog.overwrite(SEEN_TABLE, seen_rows)

    def run_wave(
        self,
        pages: DataFrame,
        budget: int = 2,
        n_salts: int = 1,
        wave: int | None = None,
    ) -> dict:
        """One politeness-respecting fetch+extract wave. Returns metrics
        (including a ``t_*`` per-stage wall breakdown for tuning)."""
        t0 = time.monotonic()
        timings: dict[str, float] = {}
        _last = t0

        def mark(stage: str) -> None:
            nonlocal _last
            now = time.monotonic()
            timings[f"t_{stage}"] = round(now - _last, 3)
            _last = now

        if not getattr(self, "_repaired", False):
            self._repair_partial_wave()
            self._repaired = True
        if wave is None:
            # derive from the catalog ONCE per engine lifetime (two agg
            # jobs); subsequent waves increment locally — the catalog
            # re-derivation only matters across process restarts, where a
            # fresh engine reads it again anyway
            cached = getattr(self, "_next_wave", None)
            wave = cached if cached is not None else self.next_wave_id()
        # invalidate the cache (and the repair latch) for the duration of
        # the wave: if any commit below raises, an in-process retry must
        # re-derive the wave id from the catalog (the half-committed docs
        # already carry this id — reusing it would double-label) and
        # re-run partial-wave repair, exactly like a process restart
        self._next_wave = None
        self._repaired = False
        mark("waveid")

        pending = self.pending().localCheckpoint(eager=True)  # cut wave-loop lineage
        n_pending = pending.count()
        mark("pending")
        if n_pending == 0:
            # nothing committed: the wave id stays available and no
            # repair is owed
            self._next_wave = wave
            self._repaired = True
            return {"wave": wave, "frontier_pending": 0, "scheduled": 0, "retired": 0, "elapsed_s": 0.0}

        # 1. url-level collapse: rediscoveries of one url = one fetch row.
        # Checkpointed: consumed twice (the seen-filter chain AND the
        # seen-dups retirement anti-join) — without it the window runs
        # again per consumer.
        w_url = Window.partitionBy("url").orderBy(*_priority())
        pending_u = (
            pending.withColumn("_ur", F.row_number().over(w_url))
            .filter(F.col("_ur") == 1)
            .drop("_ur")
        ).localCheckpoint(eager=True)

        # 2. seen filter (incremental bloom prefilter + exact anti-join)
        if self.catalog.exists(SEEN_TABLE):
            new = filter_new_with_bloom(
                pending_u, self.catalog.read(SEEN_TABLE), "key_hash",
                self._bloom_broadcast(), BLOOM_BITS, BLOOM_K,
            )
        else:
            new = pending_u
        # materialize once: the politeness chain, the dup-retirement
        # anti-join, and the fetch stage all branch from ``new``
        new = new.localCheckpoint(eager=True)
        mark("seen_filter")

        # 3. first-wins per canonical key WITHIN the wave (D1): one fetch
        # per key, best priority survives; later-priority keys retire as dups
        w_key = Window.partitionBy("key_hash").orderBy(*_priority())
        keyed = new.withColumn("_kr", F.row_number().over(w_key))
        new_first = keyed.filter(F.col("_kr") == 1).drop("_kr")

        # 4. politeness: robots + budget top-k per (salted) host
        allowed = new_first
        if self.politeness is not None:
            allowed = apply_robots(allowed, self.politeness)
        selected = budget_topk(allowed, self.politeness, default_budget=budget, n_salts=n_salts)

        # 5. fetch stand-in + extract (SURVEY §2.1 S3: html column IS the
        # payload). Urls missing from the pages table are fetch MISSES —
        # they retire with their own status instead of polluting the
        # documents table with null-text rows masquerading as fetches.
        fetched = selected.join(pages.select("url", "html"), on="url", how="left")
        fetch_misses = fetched.filter(F.col("html").isNull()).select(
            "url", F.lit("fetch_miss").alias("retire_status")
        )
        fetched = fetched.filter(F.col("html").isNotNull())
        carry = ["url", "host", "depth", "page_seq", "intra_page_seq", "key_hash"]
        if self.fingerprint_k:
            docs = self._extract_and_fingerprint(fetched, carry, wave)
        else:
            docs = fetched.select(
                *carry, extract_text_udf(F.col("html")).alias("text")
            ).withColumn("wave", F.lit(wave))
        v_docs = self.catalog.append(DOCS_TABLE, docs)
        mark("extract_commit")
        # read ONLY the dir this append committed: one extract pass ran
        # at the append; the seen/done/metrics commits below reuse that
        # parquet output without re-scanning every prior wave's documents
        # (full-table read here made late waves pay O(total crawled))
        docs_c = self.catalog.read_last_append(DOCS_TABLE, v_docs)

        # 5b. index += this wave's signatures (already computed in the
        # fused extract pass — committed, never recomputed; gen-stamped
        # appends give re-crawled keys last-wins at query time)
        if self._minhash_index_path is not None:
            self._commit_wave_sigs_to_index(
                docs_c.select("key_hash", "signature"), wave
            )
            mark("index_commit")

        # 6. seen += scheduled keys; bloom |= scheduled keys. The three
        # bookkeeping tables below are SKINNY (url/key/status columns);
        # committing them at full scan parallelism writes dozens of tiny
        # files per wave, and every later wave re-reads the union —
        # shrink 8× (floor 1) AT THE WRITE ONLY. coalesce() pushes up
        # into the producing stage (no shuffle barrier), so shrinking a
        # live plan would throttle the anti-joins/scans feeding it to
        # 1/8 of the cores; shrink either a checkpointed input or a
        # plain parquet projection, never the compute chain.
        def _shrink(df: DataFrame) -> DataFrame:
            n = df.rdd.getNumPartitions()
            return df.coalesce(max(1, n // 8))

        scheduled_keys = docs_c.select(
            "key_hash", "url", F.lit(wave).alias("first_seen_wave")
        )
        # bloom BEFORE seen (the safe crash direction): the two steps
        # are not atomic, and filter_new_with_bloom routes bloom-NEGATIVE
        # rows straight past the exact anti-join — so the invariant must
        # be bloom ⊇ seen. A failed seen commit after the OR leaves extra
        # bits (prune cost only); seen rows without bits would mean seen
        # urls re-fetched as "definitely new".
        self._bloom_add(scheduled_keys)
        if self.catalog.exists(SEEN_TABLE):
            self.catalog.append(SEEN_TABLE, _shrink(scheduled_keys))
        else:
            self.catalog.overwrite(SEEN_TABLE, _shrink(scheduled_keys))
        mark("seen_commit")

        # 7. done += scheduled ∪ seen-dups ∪ intra-wave dups ∪ robots-denied
        sched_urls = docs_c.select("url", F.lit("scheduled").alias("retire_status"))
        seen_dups = pending_u.join(new.select("url"), on="url", how="left_anti").select(
            "url", F.lit("dup").alias("retire_status")
        )
        intra_dups = keyed.filter(F.col("_kr") > 1).select(
            "url", F.lit("dup").alias("retire_status")
        )
        done_new = sched_urls.unionByName(seen_dups).unionByName(intra_dups).unionByName(fetch_misses)
        if self.politeness is not None:
            denied = new_first.join(allowed.select("url"), on="url", how="left_anti").select(
                "url", F.lit("robots_denied").alias("retire_status")
            )
            done_new = done_new.unionByName(denied)
        # checkpoint at FULL parallelism (the union's anti-join branches
        # are real compute), then shrink the materialized result for the
        # write — merging checkpointed partitions is free
        done_new = done_new.withColumn("wave", F.lit(wave)).localCheckpoint(eager=True)
        if self.catalog.exists(DONE_TABLE):
            self.catalog.append(DONE_TABLE, _shrink(done_new))
        else:
            self.catalog.overwrite(DONE_TABLE, _shrink(done_new))
        mark("done_commit")

        status_counts = {
            r["retire_status"]: r["n"]
            for r in done_new.groupBy("retire_status").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        scheduled = status_counts.get("scheduled", 0)
        dedup_hits = status_counts.get("dup", 0)
        denied_n = status_counts.get("robots_denied", 0)
        miss_n = status_counts.get("fetch_miss", 0)

        # 8. per-partition lineage metrics (FIXTURES.md §6)
        elapsed = time.monotonic() - t0
        part_metrics = (
            docs_c.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(F.count(F.lit(1)).alias("fetch_count"), F.max("depth").alias("depth"))
            .select(
                F.lit(wave).alias("wave"), "partition_id", "depth", "fetch_count",
                F.lit(dedup_hits).alias("dedup_hits"),
                F.lit(dedup_hits / n_pending if n_pending else 0.0).alias("dedup_hit_rate"),
                F.lit(elapsed).alias("elapsed_s"),
            )
        )
        part_metrics = part_metrics.coalesce(1)  # ≤ one row per partition
        if self.catalog.exists(METRICS_TABLE):
            self.catalog.append(METRICS_TABLE, part_metrics)
        else:
            self.catalog.overwrite(METRICS_TABLE, part_metrics)
        mark("metrics_commit")
        # bump only after every commit of this wave succeeded; the
        # repair latch is re-armed too (it was cleared at wave start so
        # a failed wave forces repair, like a restart)
        self._next_wave = wave + 1
        self._repaired = True
        return {
            "wave": wave,
            "frontier_pending": n_pending,
            "scheduled": scheduled,
            "dedup_hits": dedup_hits,
            "robots_denied": denied_n,
            "fetch_misses": miss_n,
            "retired": scheduled + dedup_hits + denied_n + miss_n,
            "elapsed_s": elapsed,
            **timings,
        }

    def _extract_and_fingerprint(self, fetched: DataFrame, carry: list[str], wave: int) -> DataFrame:
        """Extraction + MinHash(k)+SimHash in ONE mapInPandas pass: the
        payload crosses JVM→Python once, and the dedup-prep signatures
        ship with the document row instead of a second full-table scan."""
        import pandas as pd  # noqa: F401  (executor-side)

        from judyst_web_crawler_spark.operators import dedup_fuzzy as DFZ

        k = self.fingerprint_k
        a, b = DFZ._minhash_params(k, 42)

        def run(batches):
            for pdf in batches:
                texts, sigs, sims = [], [], []
                for payload in pdf["html"]:
                    text = extract_text(payload)
                    texts.append(text)
                    sig, sim = DFZ.fingerprint_text(text, a, b, k)
                    sigs.append(sig)
                    sims.append(sim)
                out = pdf[carry].copy()
                out["text"] = texts
                out["signature"] = sigs
                out["simhash"] = sims
                out["wave"] = wave
                yield out

        schema = (
            "url string, host string, depth int, page_seq int, intra_page_seq int, "
            "key_hash long, text string, signature array<long>, simhash long, wave int"
        )
        return fetched.select(*carry, "html").mapInPandas(run, schema)

    def _commit_wave_sigs_to_index(self, sigs: DataFrame, wave: int) -> None:
        """Append one wave's pre-computed (key_hash, signature) rows to
        the band-bucket index, then write the wave MARKER. Marker-after-
        data is the durability protocol: a marker row proves the wave's
        sigs landed, so ``_reconcile_minhash_index`` can detect (docs
        committed, marker absent) and roll the index forward on restart.
        A crash mid-append can leave partial sig rows WITHOUT a marker;
        the reconcile re-append then duplicates those ids at a higher
        gen — harmless, the query's last-wins window keeps one."""
        minhash_index_write_sigs(
            sigs,
            self._minhash_index_path,
            id_col="key_hash",
            k=self.fingerprint_k,
            bands=self._minhash_bands,
            mode="append",
        )
        self.spark.createDataFrame([(wave,)], "wave int").coalesce(1).write.mode(
            "append"
        ).parquet(os.path.join(self._minhash_index_path, "waves"))

    def _reconcile_minhash_index(self) -> None:
        """Roll the index forward over waves whose documents committed
        but whose signatures never landed (crash between the docs commit
        and step 5b). Runs once at construction — the same restart
        recovery model as ``_repair_partial_wave``. Also backfills a
        catalog that predates the index (every docs wave missing a
        marker), provided it was crawled with fingerprinting on."""
        if not self.catalog.exists(DOCS_TABLE):
            return
        docs = self.catalog.read(DOCS_TABLE)
        doc_waves = {r["wave"] for r in docs.select("wave").distinct().collect()}
        if not doc_waves:
            return
        marked: set[int] = set()
        try:
            marked = {
                r["wave"]
                for r in self.spark.read.parquet(
                    os.path.join(self._minhash_index_path, "waves")
                ).collect()
            }
        except AnalysisException as e:
            from judyst_web_crawler_spark.operators.dedup_fuzzy import _error_condition

            blob = _error_condition(e)
            if "PATH_NOT_FOUND" not in blob and "UNABLE_TO_INFER_SCHEMA" not in blob:
                raise
        missing = sorted(doc_waves - marked)
        if not missing:
            return
        if "signature" not in docs.columns:
            raise ValueError(
                "minhash_index_path set over a catalog whose documents "
                "carry no 'signature' column (crawled without "
                "fingerprint_k) — the index cannot be backfilled without "
                "re-fingerprinting; rebuild it explicitly with "
                "minhash_index_write instead"
            )
        for w in missing:
            self._commit_wave_sigs_to_index(
                docs.filter(F.col("wave") == w).select("key_hash", "signature"), w
            )

    def near_dups_of_wave(
        self,
        wave: int,
        threshold: float = 0.7,
        margin: float | None = 0.15,
        materialize: bool = True,
    ) -> DataFrame:
        """Near-dup pairs (id_a, id_b, jaccard — ids are key_hash) of
        wave ``wave``'s documents vs EVERYTHING crawled so far, without
        re-fingerprinting any text: the wave's signatures come off its
        own documents rows, the prior corpus off the committed band
        index. Per-wave cost O(new × matching buckets) — the incremental
        dedup loop a 100 TB crawl runs after every wave.

        The docs table is append-only, so a re-crawled url holds one row
        PER crawl generation of its key_hash; the sig side of the query
        is already deduped last-wins by gen, and the TEXT side must match
        it — or every pair touching a re-crawled id fans out into
        duplicate rows, some exact-verified against the superseded text.
        Both dedupes stay candidate/wave-sized at 100 TB: the wave side
        drops superseded rows via an anti-join against the (key_hash,
        wave) columns of LATER waves only — a narrow scan, no text
        shuffled — and the corpus side is collapsed last-wins inside
        ``minhash_query_index`` AFTER pruning to candidate ids
        (``corpus_latest_by``), so the full corpus text column never
        crosses an exchange."""
        if self._minhash_index_path is None:
            raise ValueError("engine was built without minhash_index_path")
        from judyst_web_crawler_spark.operators.dedup_fuzzy import minhash_query_index

        docs = self.catalog.read(DOCS_TABLE)
        # wave-N rows superseded by a later re-crawl are stale — their
        # pairs are moot for the dedup loop
        superseding = docs.filter(F.col("wave") > wave).select("key_hash")
        wave_docs = docs.filter(F.col("wave") == wave).join(
            superseding, on="key_hash", how="left_anti"
        )
        return minhash_query_index(
            wave_docs.select("key_hash", "text"),
            self._minhash_index_path,
            docs.select("key_hash", "text", "wave"),
            id_col="key_hash",
            k=self.fingerprint_k,
            bands=self._minhash_bands,
            threshold=threshold,
            margin=margin,
            materialize=materialize,
            new_sigs=wave_docs.select("key_hash", "signature"),
            corpus_latest_by="wave",
        )

    def discover_and_enqueue(self, pages: DataFrame, depth: int) -> int:
        """Multi-depth crawl feed: scan the documents fetched at
        ``depth-1``, extract their outlinks (JVM regexp over decoded
        html is upstream — here the docs table already has text; links
        live in the pages table's html), and enqueue unseen urls at
        ``depth``. Returns the number of urls enqueued.

        At 10^10 scale this is one narrow scan of the last wave's docs +
        the same seen anti-join every wave already does — no new shuffle
        shape. (The reference's analogue is the contents-tree walk
        feeding deeper law_codes fetches, law_codes.py:759-836.)
        """
        from judyst_web_crawler_spark.functions.extraction import (
            decoded_html,
            links_from_html,
        )

        docs = self.catalog.read(DOCS_TABLE).filter(F.col("depth") == depth - 1)
        raw_links = (
            docs.join(pages.select("url", "html"), on="url", how="inner")
            .select(F.explode(links_from_html(decoded_html("html"))).alias("url"))
            .distinct()
        )
        new_links = raw_links
        if self.catalog.exists(DONE_TABLE):
            new_links = new_links.join(
                self.catalog.read(DONE_TABLE).select("url"), on="url", how="left_anti"
            )
        new_links = new_links.localCheckpoint(eager=True)
        n = new_links.count()
        if n:
            self.enqueue(
                new_links.select(
                    "url",
                    F.lit(0).alias("page_seq"),
                    F.lit(0).alias("intra_page_seq"),
                ),
                depth=depth,
            )
        return n

    def run(self, pages: DataFrame, budget: int = 2, n_salts: int = 1, max_waves: int = 100) -> list[dict]:
        """Wave loop until the frontier drains (reference's page loop
        ksrf.py:107 re-expressed as batch waves)."""
        stats = []
        for _ in range(max_waves):
            m = self.run_wave(pages, budget=budget, n_salts=n_salts)
            if m["frontier_pending"] == 0:
                break
            stats.append(m)
            if m["retired"] == 0:
                break  # no progress possible (e.g. budget 0)
            # long crawls: keep reads O(1) dirs instead of O(waves)
            for t in (DONE_TABLE, SEEN_TABLE):
                if self.catalog.exists(t) and self.catalog.n_dirs(t) >= 16:
                    self.catalog.compact(t)
        return stats

    def crawl(
        self,
        pages: DataFrame,
        budget: int = 2,
        n_salts: int = 1,
        max_depth: int = 3,
        max_waves_per_depth: int = 100,
    ) -> list[dict]:
        """Multi-depth crawl: drain the current frontier, discover
        outlinks from the fetched pages, enqueue them one level deeper,
        repeat until no new links or ``max_depth``."""
        stats = []
        for depth in range(1, max_depth + 1):
            stats.extend(self.run(pages, budget=budget, n_salts=n_salts, max_waves=max_waves_per_depth))
            if self.discover_and_enqueue(pages, depth) == 0:
                break
        stats.extend(self.run(pages, budget=budget, n_salts=n_salts, max_waves=max_waves_per_depth))
        return stats
