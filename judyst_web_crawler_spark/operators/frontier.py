"""The frontier engine: priority waves over snapshot tables, resumable.

End-to-end slice per wave (SURVEY §7 minimum slice; flagship entry):

    fate = frontier ANTI JOIN done, one linear plan checkpointed once:
        ├─ one exchange on key_hash: url rank (a rediscovered url is one
        │  fetch) + key rank (first-wins per canonical key, D1,
        │  ksrf.py:106-142)
        ├─ Bloom probe + exact seen flag (EXISTS in seen)
        ├─ robots flag + per-host budget rank (salted; politeness.py)
        ▼  retire_status: dup | robots_denied | selected | null (waits)
    fetch stand-in: join selected urls to the pages table (html BINARY)
        ▼
    extract_text_udf (byte-identical reference pipeline, P5+P7+P9)
        ▼
    one publish (a catalog transaction recording the wave id; the
    crawl resumes from it as law_codes.py:752-776 does from its
    checkpoint):
        documents += wave output
        seen      += scheduled keys
        done      += fate's dup / robots-denied rows, scheduled urls and
                     fetch misses (selected urls with no documents row)
        metrics   += per-partition lineage
        ▼
    band index += the wave's signatures (its own catalog's transaction,
    after the publish; a wave it lacks is re-committed from documents)

State and cost:
- ALL state tables are append-only — no wave ever rewrites a table, so
  per-wave cost is O(pending), not O(frontier).
- the seen filter has one Bloom prefilter (``BLOOM_BITS``/``BLOOM_K``),
  held on the driver and maintained INCREMENTALLY: built once from the
  ``seen`` table at engine construction (resume), then OR-merged with
  each wave's scheduled keys. A row is seen only if the Bloom might hold
  its key AND the key exists in ``seen``, so the Bloom never changes
  which urls are new.
- every join is broadcast (politeness config) or a key-hash equi-join;
  only bloom blobs and the wave's scheduled keys reach the driver.
- each selection step runs once: the fate's flags are columns of one
  linear plan, never filters of a shared subtree, so the Bloom's Python
  crossing runs once. The documents and done commits both read the fate
  checkpoint (never html), so they agree on the winners of priority
  ties. Counters are ``Observation``s on jobs that run anyway. A wave
  that retires every url it saw records the (frontier, done) snapshot
  versions; a wave at those versions is empty and launches no job.
"""

from __future__ import annotations

import time

import numpy as np
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from judyst_web_crawler_spark.functions import canonical as C
from judyst_web_crawler_spark.functions.extraction import extract_text, extract_text_udf
from judyst_web_crawler_spark.operators.dedup_fuzzy import minhash_index_write_sigs
from judyst_web_crawler_spark.operators.politeness import (
    budget_rank,
    priority_order,
    robots_allowed,
)
from judyst_web_crawler_spark.operators.seen import (
    bloom_bits_for,
    bloom_or,
    build_bloom,
    with_seen_flag,
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

# the columns of a pending row that the fate keeps and the documents carry
CARRY = ["url", "host", "depth", "page_seq", "intra_page_seq", "key_hash"]


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
        # minhash_index_path: root of the band-bucket index's own
        # SnapshotCatalog (tables ``bands`` and ``sigs``, see
        # dedup_fuzzy). Each wave commits its (key_hash, signature) rows
        # in one index transaction recording the wave, after the crawl
        # publish, so near-dup queries against ALL previously crawled
        # documents never re-fingerprint anything (per-wave cost:
        # O(new × matching buckets)).
        if minhash_index_path is not None:
            if not fingerprint_k:
                raise ValueError("minhash_index_path requires fingerprint_k")
            # bands only constrain k when an index will actually be
            # banded — fingerprint-only engines accept any k
            if minhash_bands <= 0 or fingerprint_k % minhash_bands:
                raise ValueError("minhash_bands must divide fingerprint_k")
        self._minhash_index_path = minhash_index_path
        self._minhash_bands = minhash_bands
        self._bloom_bc = None
        self._drained_at = None  # (frontier, done) versions with nothing pending
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

    def _bloom_add(self, keys) -> None:
        """OR newly-scheduled key hashes into the running bloom."""
        bloom_or(self._bloom, keys, BLOOM_BITS, BLOOM_K)
        if self._bloom_bc is not None:
            self._bloom_bc.unpersist()
            self._bloom_bc = None

    # -- bootstrap ---------------------------------------------------------

    @staticmethod
    def _frontier_rows(seeds: DataFrame, depth: int) -> DataFrame:
        return seeds.select(
            "url", C.url_host("url").alias("host"), F.lit(depth).alias("depth"),
            "page_seq", "intra_page_seq", C.canonical_url("url").alias("canonical_url"),
            C.key_hash(C.canonical_url("url")).alias("key_hash"),
        )

    def bootstrap(self, seeds: DataFrame) -> None:
        """Seed the frontier. ``seeds``: url, page_seq, intra_page_seq
        (FIXTURES.md §2); host/depth/canonical key derived here. Discovery
        of new URLs mid-crawl = another append to the frontier table."""
        self.catalog.overwrite(FRONTIER_TABLE, self._frontier_rows(seeds, 0), partition_by=["depth"])

    def enqueue(self, seeds: DataFrame, depth: int) -> None:
        """Append newly-discovered URLs (deeper frontier levels)."""
        self.catalog.append(FRONTIER_TABLE, self._frontier_rows(seeds, depth), partition_by=["depth"])

    # -- wave --------------------------------------------------------------

    def pending(self) -> DataFrame:
        frontier = self.catalog.read(FRONTIER_TABLE)
        if self.catalog.exists(DONE_TABLE):
            done = self.catalog.read(DONE_TABLE).select("url")
            return frontier.join(done, on="url", how="left_anti")
        return frontier

    def fate(self, budget: int = 2, n_salts: int = 1) -> DataFrame:
        """Every pending row with its ``retire_status`` (``dup``,
        ``robots_denied``, ``selected``, or null: waits for a later wave,
        or repeats a url, ``_ur > 1``), the url rank ``_ur`` and the seen
        flags ``_maybe``/``_seen``. Lazy; ``run_wave`` checkpoints it."""
        # key_hash is a function of url, so one exchange on key_hash
        # serves both windows. A url's rediscoveries rank after every
        # first row of their key: they neither rank nor retire. Seen is
        # all-or-nothing per key, so ranking before the seen check picks
        # the winners a rank of the unseen rows would. The probe runs
        # above the windows: over a multi-dir read a projection is pushed
        # into every union branch, one Python stage per dir.
        w_url = Window.partitionBy("key_hash", "url").orderBy(*priority_order())
        w_key = Window.partitionBy("key_hash").orderBy((F.col("_ur") > 1).asc(), *priority_order())
        rows = (
            self.pending()
            .repartition("key_hash")
            .withColumn("_ur", F.row_number().over(w_url))
            .withColumn("_kr", F.row_number().over(w_key))
        )
        if self.catalog.exists(SEEN_TABLE):
            rows = with_seen_flag(
                rows, self.catalog.read(SEEN_TABLE).select("key_hash"), "key_hash",
                self._bloom_broadcast(), BLOOM_BITS, BLOOM_K,
            )
        else:
            rows = rows.withColumn("_maybe", F.lit(False)).withColumn("_seen", F.lit(False))
        allowed, host_budget = F.lit(True), F.lit(budget)
        if self.politeness is not None:
            rules = self.politeness.select("host", "robots_allow", "robots_deny", "budget")
            rows = rows.join(F.broadcast(rules), on="host", how="left")
            allowed, host_budget = robots_allowed(), F.coalesce(F.col("budget"), host_budget)
        rows = rows.withColumn("_allowed", allowed)
        first = (F.col("_ur") == 1) & ~F.col("_seen") & (F.col("_kr") == 1)
        rows = budget_rank(rows, host_budget, n_salts, first=first & F.col("_allowed"))
        status = (
            F.when(F.col("_ur") > 1, F.lit(None))
            .when(F.col("_seen") | (F.col("_kr") > 1), "dup")
            .when(~F.col("_allowed"), "robots_denied")
            .when(F.col("_rank") <= F.col("_share"), "selected")
        )
        return rows.select(*CARRY, "_ur", "_maybe", "_seen", status.alias("retire_status"))

    def run_wave(
        self,
        pages: DataFrame,
        budget: int = 2,
        n_salts: int = 1,
        wave: int | None = None,
    ) -> dict:
        """One politeness-respecting fetch+extract wave, published as one
        catalog transaction. Returns metrics (including a ``t_*``
        per-stage wall breakdown for tuning)."""
        t0 = time.monotonic()
        timings: dict[str, float] = {}
        _last = t0

        def mark(stage: str) -> None:
            nonlocal _last
            now = time.monotonic()
            timings[f"t_{stage}"] = round(now - _last, 3)
            _last = now

        self._reconcile_minhash_index()
        if wave is None:
            # the log head records the last published wave: a restart and a
            # retry after a failed (unpublished) wave both take the next id
            last = self.catalog.last_wave()
            wave = 0 if last is None else last + 1
        mark("waveid")

        with self.catalog.transaction(wave=wave):
            # 0-4. every pending row's fate; the rows that retire this wave
            # are checkpointed (never html) and the counters observed on that
            # job → read by the fetch (5) and the done write (7). Versions
            # only grow: at those a wave left drained, pending is empty.
            versions = tuple(self.catalog.current_version(t) for t in (FRONTIER_TABLE, DONE_TABLE))
            fc = {"rows": 0}
            if versions != self._drained_at:
                first, status = F.col("_ur") == 1, F.col("retire_status")
                fate_obs = Observation()
                fate = (
                    self.fate(budget, n_salts)
                    .observe(
                        fate_obs,
                        F.count(F.lit(1)).alias("rows"),
                        F.count_if(first).alias("urls"),
                        F.count_if(first & F.col("_maybe")).alias("seen_maybe"),
                        F.count_if(first & F.col("_seen")).alias("seen_exact_hits"),
                        *(F.count_if(status == s).alias(s) for s in ("dup", "robots_denied", "selected")),
                    )
                    .filter(F.col("retire_status").isNotNull())
                    .select(*CARRY, "retire_status")
                    .localCheckpoint(eager=True)
                )
                fc = fate_obs.get
            n_pending = fc["rows"]
            mark("pending")
            timings["t_seen_filter"] = 0.0  # part of the fate plan
            if n_pending == 0:
                # nothing staged: nothing is published, the wave id stays free
                self._drained_at = versions
                return {"wave": wave, "frontier_pending": 0, "scheduled": 0, "retired": 0, "elapsed_s": 0.0}

            # 5. fetch stand-in + extract (SURVEY §2.1 S3: html column IS the
            # payload) → documents. Urls missing from the pages table are
            # fetch MISSES: they get no documents row (no null-text rows
            # masquerading as fetches) and retire with their own status.
            selected = fate.filter(F.col("retire_status") == "selected")
            fetched = selected.join(pages.select("url", "html"), on="url").filter(
                F.col("html").isNotNull()
            )
            if self.fingerprint_k:
                docs = self._extract_and_fingerprint(fetched, CARRY, wave)
            else:
                docs = fetched.select(
                    *CARRY, extract_text_udf(F.col("html")).alias("text")
                ).withColumn("wave", F.lit(wave))
            # the scheduled keys (bloom increment, ``scheduled``) come back
            # with the write
            docs_obs = Observation()
            docs = docs.observe(docs_obs, F.collect_list("key_hash").alias("keys"))
            v_docs = self.catalog.append(DOCS_TABLE, docs)
            scheduled_keys = docs_obs.get["keys"]
            mark("extract_commit")
            # read ONLY the dir this append staged: one extract pass ran at
            # the append; the writes below and the index commit reuse it
            # without re-scanning every prior wave's documents
            docs_c = self.catalog.read_last_append(DOCS_TABLE, v_docs)

            # 6. seen += scheduled keys; bloom |= scheduled keys. The seen and
            # done tables are SKINNY, and every later wave re-reads them: both
            # writes make one file per 8 of the documents write's files
            # (coalesce shrinks the reading stage, no shuffle).
            n_files = max(1, len(docs_c.inputFiles()) // 8)
            # bloom BEFORE the publish (the safe crash direction): a
            # bloom-NEGATIVE key never counts as seen, so the invariant is
            # bloom ⊇ seen. A failed publish after the OR leaves extra bits
            # (prune cost only); seen rows without bits would re-fetch urls.
            self._bloom_add(scheduled_keys)
            seen_new = docs_c.select("key_hash", "url", F.lit(wave).alias("first_seen_wave"))
            self.catalog.append(SEEN_TABLE, seen_new.coalesce(n_files))
            mark("seen_commit")

            # 7. done += the fate's dup and robots-denied rows ∪ scheduled
            # (the documents dir) ∪ fetch misses (selected − documents).
            def retire(df: DataFrame, status: str) -> DataFrame:
                return df.select("url", F.lit(status).alias("retire_status"))

            done_new = (
                fate.filter(F.col("retire_status") != "selected")
                .select("url", "retire_status")
                .unionByName(retire(docs_c, "scheduled"))
                .unionByName(
                    retire(selected.join(docs_c.select("url"), on="url", how="left_anti"), "fetch_miss")
                )
                .withColumn("wave", F.lit(wave))
            )
            v_done = self.catalog.append(DONE_TABLE, done_new.coalesce(n_files))
            mark("done_commit")
            counts = {  # in return-key order
                "scheduled": len(scheduled_keys),
                "dedup_hits": fc["dup"],
                "robots_denied": fc["robots_denied"],
                "fetch_misses": fc["selected"] - len(scheduled_keys),
            }

            # 8. per-partition lineage metrics (FIXTURES.md §6): ids taken
            # before the coalesce; one partition groups with no exchange
            elapsed = time.monotonic() - t0
            part_metrics = (
                docs_c.select(F.spark_partition_id().alias("partition_id"), "depth")
                .coalesce(1)
                .groupBy("partition_id")
                .agg(F.count(F.lit(1)).alias("fetch_count"), F.max("depth").alias("depth"))
                .select(
                    F.lit(wave).alias("wave"), "partition_id", "depth", "fetch_count",
                    F.lit(counts["dedup_hits"]).alias("dedup_hits"),
                    F.lit(counts["dedup_hits"] / n_pending).alias("dedup_hit_rate"),
                    F.lit(elapsed).alias("elapsed_s"),
                )
            )
            self.catalog.append(METRICS_TABLE, part_metrics)
        mark("metrics_commit")  # the publish included

        # 9. index += this wave's signatures (already computed in the fused
        # extract pass)
        if self._minhash_index_path is not None:
            self._commit_wave_sigs_to_index(docs_c.select("key_hash", "signature"), wave)
            mark("index_commit")
        retired = sum(counts.values())
        if retired == fc["urls"]:
            self._drained_at = (versions[0], v_done)
        return {
            "wave": wave,
            "frontier_pending": n_pending,
            **counts,
            "retired": retired,
            "seen_maybe": fc["seen_maybe"],
            "seen_exact_hits": fc["seen_exact_hits"],
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
        """Commit one wave's pre-computed (key_hash, signature) rows to
        the band-bucket index: ``bands`` and ``sigs`` in one index
        transaction that records ``wave``."""
        minhash_index_write_sigs(
            sigs,
            self._minhash_index_path,
            wave,
            id_col="key_hash",
            k=self.fingerprint_k,
            bands=self._minhash_bands,
        )

    def _reconcile_minhash_index(self) -> None:
        """Index the published waves the band index lacks. The index
        commits after the crawl publish, so a crash between the two
        leaves the index's log head behind the crawl's; comparing the
        two heads launches no job. Also backfills a catalog that
        predates the index, provided it was crawled with fingerprinting
        on."""
        if self._minhash_index_path is None:
            return
        crawled = self.catalog.last_wave()
        indexed = SnapshotCatalog(self.spark, self._minhash_index_path).last_wave()
        if crawled is None or (indexed is not None and indexed >= crawled):
            return
        docs = self.catalog.read(DOCS_TABLE)
        if "signature" not in docs.columns:
            raise ValueError(
                "minhash_index_path set over a catalog whose documents "
                "carry no 'signature' column (crawled without "
                "fingerprint_k) — the index cannot be backfilled without "
                "re-fingerprinting; rebuild it explicitly with "
                "minhash_index_write instead"
            )
        for w in range(0 if indexed is None else indexed + 1, crawled + 1):
            self._commit_wave_sigs_to_index(
                docs.filter(F.col("wave") == w).select("key_hash", "signature"), w
            )

    def near_dups_of_wave(
        self,
        wave: int,
        threshold: float = 0.7,
        margin: float | None = 0.15,
    ) -> DataFrame:
        """Near-dup pairs (id_a, id_b, jaccard — ids are key_hash) of
        wave ``wave``'s documents vs EVERYTHING crawled so far, without
        re-fingerprinting any text: the wave's signatures come off its
        own documents rows, the prior corpus off the committed band
        index. Per-wave cost O(new × matching buckets) — the incremental
        dedup loop a 100 TB crawl runs after every wave. The fate's seen
        flag and key rank retire each key once, so a key_hash has one
        documents row and one index row: both sides are read as-is."""
        if self._minhash_index_path is None:
            raise ValueError("engine was built without minhash_index_path")
        from judyst_web_crawler_spark.operators.dedup_fuzzy import minhash_query_index

        self._reconcile_minhash_index()

        docs = self.catalog.read(DOCS_TABLE)
        wave_docs = docs.filter(F.col("wave") == wave)
        return minhash_query_index(
            wave_docs.select("key_hash", "text"),
            self._minhash_index_path,
            docs.select("key_hash", "text"),
            id_col="key_hash",
            k=self.fingerprint_k,
            bands=self._minhash_bands,
            threshold=threshold,
            margin=margin,
            new_sigs=wave_docs.select("key_hash", "signature"),
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
