"""Driver-side search API over an IndexSnapshot (IndexSearcher analogue).

Plan shape (SURVEY.md §3.2 Spark translation). search and search_many
share ONE top-k path, Searcher._topk_frame; a single query is a batch of
one qid:
  driver:   rewrite -> term stats (driver-side seek of the terms table),
            block-max plans, one impacts read, per-qid theta seeds
  executors: per-segment kernel looping over the batch's qids -> each
            segment's top-k, in one of three shapes:
              broadcast norms  groupBy(segment) over the pruned postings,
                               segnorms parsed once and broadcast — when
                               the index is hot (cache_index) or its norms
                               are small, and tombstones fit the driver
              cogroup          cogroup(postings BY segment, segnorms BY
                               segment) — the fallback that scales: big
                               norms, or tombstones riding the norms side
              norms-only       groupBy(segment) over segnorms alone, for
                               MatchAll-bearing qids on segments holding
                               none of the batch's postings (unioned in)
            or, in a fourth shape, not on executors at all:
              driver           a single search() on a cold Searcher over
                               a small index (postings within
                               DRIVER_POSTINGS_BYTES, norms small enough to
                               broadcast, driver-held tombstones,
                               no docvalues overlays): the same kernel_body
                               once per segment over a pyarrow read of the
                               pruned postings rows, ids point-read from
                               the docmap, the result a DataFrame over a
                               pyarrow Table — no Spark job at all
            in every shape, kernel_body picks each qid's top-k strategy
            per segment: term-only block-max plans on a segment of at
            most DENSE_MAX_DOC docs run together on the dense batch
            accumulator (operators/search.dense_topk: one multi-block
            decode, one (qid x doc) bincount); other block-max plans run
            blockmax_topk per qid; the rest (k=None, searchAfter,
            non-BM25 similarities, shapes classify_blockmax rejects) run
            the exhaustive evaluate + top_k
  driver:   search: ORDER BY score DESC, segment, docid LIMIT k (Catalyst
            TakeOrderedAndProject) == TopDocs.merge tie semantics
            (solr-8.4.0/.../search/TopDocs.java:75,106);
            search_many: the same order as a row_number per qid

The postings scan carries a pushed-down IN(term, ...) filter; postings files
are written sorted by term, so parquet row-group stats prune the scan — the
BlockTree/FST seek analogue (SURVEY.md §3.3).
"""

from __future__ import annotations

import os
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from .functions import bm25
from .functions.editdist import osa_distance as _osa_distance
from .index import IndexSnapshot, parse_segnorms
from .operators import executor as ex
from .operators.search import (DENSE_CELLS, SparkSegmentReader,
                               blockmax_topk, classify_blockmax, dense_topk,
                               is_term_plan)
from .plans import query as Q
from .plans.query import (RewriteContext, key_field, key_term, term_key,
                          rewrite as rewrite_query)

# postings bytes (all batches) up to which a cold single search runs on
# the driver (_local). scripts/driver_crossover.py found no crossover up
# to 137 MB on local[2], 4 vCPU (driver p50 ahead of the Spark path by
# 9.7x at 3 MB, 3.7x at 72 MB, 2.2x at 137 MB); the margin shrinks with
# size and the driver runs one thread, so the bound stays well inside
# that range.
# Independent of the norms-broadcast bound (_small_norms).
DRIVER_POSTINGS_BYTES = 64 * 1024 * 1024


def _rank_limited(df, order, part):
    """row_number over an ALREADY-LIMITED (<= k rows) frame.  Partitioned
    by a non-foldable constant (xxhash64(part) % 1 == 0 on every row;
    Catalyst folds a bare lit(0) away) so WindowExec never logs the
    no-partition warning — the companion of functions/facets
    ._rank_top_labels: TakeOrderedAndProject reduces first, only the k
    survivors see the window."""
    w = (Window.partitionBy(F.xxhash64(F.col(part)) % F.lit(1))
         .orderBy(*order))
    return df.withColumn("rank", F.row_number().over(w))


class LRUQueryCache:
    """Filter-cache analogue of the reference's LRUQueryCache
    (solr-8.4.0/.../search/LRUQueryCache.java capability): maps a rewritten
    query to its PERSISTED (segment, docid) match-set DataFrame; least
    recently used entries are evicted and unpersisted. Spark's persisted
    DataFrame takes the role of the per-leaf cached DocIdSet — reusable by
    any subsequent join/filter without re-running the kernel."""

    def __init__(self, max_entries: int = 32):
        from collections import OrderedDict
        self._entries: "OrderedDict" = OrderedDict()
        self.max_entries = max_entries
        self.hits = 0
        self.misses = 0

    def get(self, key):
        got = self._entries.get(key)
        if got is not None:
            self._entries.move_to_end(key)
            self.hits += 1
            return got
        self.misses += 1
        return None

    def put(self, key, df) -> None:
        self._entries[key] = df
        self._entries.move_to_end(key)
        while len(self._entries) > self.max_entries:
            _, old = self._entries.popitem(last=False)
            old.unpersist()


class Searcher:
    def __init__(self, index: IndexSnapshot, k1: float = bm25.DEFAULT_K1,
                 b: float = bm25.DEFAULT_B, max_expansions: int = 1024,
                 similarity: str = "bm25", cache_index: bool = False):
        """similarity: "bm25" (default) or "classic" (TF-IDF; the
        IndexSearcher.setSimilarity plug point, SURVEY §2.7). The stored
        norm byte serves both models (same computeNorm). Block-max pruning
        applies to BM25 only; classic queries run exhaustive + top-k.

        cache_index=True is the hot-serving mode (the page-cache-resident
        index of a dedicated Lucene search node): postings are persisted
        PRE-PARTITIONED by segment, so every query's broadcast-norms
        groupBy kernel reuses that partitioning with zero exchange — the
        per-query shuffle (the dominant fixed cost of low-latency search)
        disappears. Sized for indexes that fit executor storage memory;
        leave False for scan-per-query over arbitrarily large indexes."""
        self.index = index
        self.k1, self.b = k1, b
        self.similarity = similarity
        self.max_expansions = max_expansions
        self._post_src = index.postings()
        self._terms_src = index.terms()
        # multi-field: the default field's NAME canonicalizes to field=None
        # (bare term keys); named extra fields carry per-field stats
        self._default_field = index.default_field
        self._field_stats = index.field_stats()
        self._hot = bool(cache_index)
        self._norms_bc = None  # broadcast segnorms (lazy)
        # adaptive norms strategy (the autoBroadcastJoinThreshold idea
        # applied to the norms side): norms cost ~1 byte/doc/field, a size
        # KNOWN from the manifest without any job — when they fit a
        # broadcast, every query runs the one-stage broadcast-norms kernel
        # even cold (no segnorms scan, no cogroup exchange, postings read
        # once); past the threshold the cogroup remains the only shape
        # that scales (norms can't broadcast at 100 TB)
        nb = int(index.stats["doc_count"]) * len(index.field_names)
        self._small_norms = nb <= 64 * 1024 * 1024
        # driver path (_search_local): a cold single search over an index
        # this small reads its postings rows with pyarrow and runs the
        # kernel in this process — no Spark job and no Python worker task,
        # whose fixed start-up cost dwarfs the kernel at this size; the
        # norms it parses in the driver are within the broadcast bound
        self._local = (not self._hot and self._small_norms
                       and index.postings_bytes() <= DRIVER_POSTINGS_BYTES)
        self._n_part = index.spark.sparkContext.defaultParallelism
        if cache_index:
            # exactly one cached partition per core: fewer tasks per query
            # than one-per-segment (measured p50 0.93 s vs 1.30 s at 64
            # segments/32 cores), and multiple segments per task let the
            # task-local theta floor actually share across segments. The
            # sortWithinPartitions gives the in-memory columnar batches
            # tight (field, term) min/max stats, so the cached scan prunes
            # batches on the term filter like parquet row-groups do
            n_part = index.spark.sparkContext.defaultParallelism
            self._post_src = (self._post_src
                              .repartition(n_part, "segment")
                              .sortWithinPartitions("segment", "field",
                                                    "term")
                              .persist())
            self._terms_src = self._terms_src.persist()
        self._ctx = RewriteContext(expand_terms=self._expand,
                                   max_expansions=max_expansions,
                                   term_doc_freqs=self._term_doc_freqs,
                                   doc_count=int(index.stats["doc_count"]))
        self._stats_cache: dict = {}  # term -> (doc_freq, ttf) memo
        self._theta_seed_cache: dict = {}  # seed-theta memo per query shape
        self._impacts_cache: dict = {}  # term key -> impact pairs memo
        self._deletes_cache: object = False  # False = not loaded yet
        self._deletes_bc: object = False  # broadcast handle (False = unset)
        self._big_deletes = False  # tombstones beyond the driver cap
        self.query_cache = LRUQueryCache()

    # tombstone count above which queries stop collecting deletes to the
    # driver and run the distributed fallback (tests shrink this to
    # exercise the big-deletes path without 5M rows)
    TOMBSTONE_DRIVER_CAP = 5_000_000

    # segment size (max_doc) up to which term-only block-max plans run on
    # the dense batch accumulator (operators/search.dense_topk) instead of
    # blockmax_topk: the accumulator's cell budget, so one qid's row
    # always fits a chunk and its scratch stays within DENSE_CELLS cells.
    # Memory, not speed, sets it: scripts/kernel_profile.py found dense
    # ahead at every size it measured (1,250- to 600k-doc segments, batch
    # 1 to 128). Tests set it to 0 on the instance to force block-max.
    DENSE_MAX_DOC = DENSE_CELLS

    def _deleted_by_segment(self, max_driver_rows: int | None = None
                            ) -> dict | None:
        """Tombstoned docids per segment (liveDocs analogue), shipped to the
        kernels as per-segment sorted arrays. Deletes are expected sparse
        between rewrites; the driver cap guards the collect. BEYOND the cap
        there is no cliff: _big_deletes flips on and every kernel path
        switches to the distributed fallback — tombstones ride the norms
        cogroup side as extra rows (the compaction cogroup shape), so they
        are never collected or broadcast. Compacting the index (merge)
        remains the right operational answer, but queries stay correct
        meanwhile."""
        if self._deletes_cache is not False:
            return self._deletes_cache
        if max_driver_rows is None:
            max_driver_rows = self.TOMBSTONE_DRIVER_CAP
        df = self.index.deletes()
        if df is None:
            self._deletes_cache = None
            return None
        rows = df.limit(max_driver_rows + 1).collect()
        if len(rows) > max_driver_rows:
            self._big_deletes = True
            self._deletes_cache = None
            return None
        by_seg: dict = {}
        for r in rows:
            by_seg.setdefault(int(r.segment), []).append(int(r.docid))
        self._deletes_cache = {
            s: np.unique(np.asarray(d, dtype=np.int64))
            for s, d in by_seg.items()}
        return self._deletes_cache

    def _deleted_broadcast(self):
        """Tombstones as a Spark broadcast variable: fetched once per
        executor instead of pickled into every task closure (the liveDocs
        arrays can reach ~40 MB at the driver cap). None when the snapshot
        has no deletes."""
        if self._deletes_bc is not False:
            return self._deletes_bc
        d = self._deleted_by_segment()
        self._deletes_bc = (
            None if not d
            else self.index.spark.sparkContext.broadcast(d))
        return self._deletes_bc

    def _term_doc_freqs(self, keys: set) -> dict:
        """Doc freqs for df-dependent rewrites (CommonTermsQuery) — same
        memoized driver-side seek as _global_stats."""
        stats = self._global_stats(set(keys))
        return dict(stats.doc_freqs)

    # ---------------- driver-side rewrite/expansion over the terms table
    def _expand(self, q) -> list | None:
        import re as _re
        t = self._field_terms(getattr(q, "field", None))
        c = F.col("term")
        if isinstance(q, Q.PrefixQuery):
            t = t.where(c.startswith(q.prefix))
        elif isinstance(q, Q.WildcardQuery):
            # literal-prefix pre-filter: the sorted terms parquet prunes on
            # startswith (the FST prefix walk analogue), so the rlike scan
            # only touches the matching dictionary range
            lit = _re.split(r"[*?]", q.pattern, maxsplit=1)[0]
            if lit:
                t = t.where(c.startswith(lit))
            t = t.where(c.rlike(q.to_regex()))
        elif isinstance(q, Q.RegexpQuery):
            # literal-prefix pruning is only sound when the prefix binds the
            # WHOLE pattern: an alternation anywhere (a|b) or a quantifier
            # on the first literal (a?bc) voids it, so require the pattern
            # to start with plain literals and contain no '|'
            lit = _re.match(r"[^.*+?()\[\]{}|\\^$]*", q.pattern).group(0)
            if lit and "|" not in q.pattern and not (
                    len(lit) < len(q.pattern)
                    and q.pattern[len(lit)] in "*?+{"):
                t = t.where(c.startswith(lit))
            t = t.where(c.rlike("^(?:" + q.pattern + ")$"))
        elif isinstance(q, Q.TermRangeQuery):
            if q.lower is not None:
                t = t.where(c >= q.lower if q.include_lower else c > q.lower)
            if q.upper is not None:
                t = t.where(c <= q.upper if q.include_upper else c < q.upper)
        elif isinstance(q, Q.FuzzyQuery):
            got = self._fuzzy_seek_terms(
                q.term, q.max_edits,
                field=getattr(q, "field", None),
                transpositions=q.transpositions,
                prefix=q.term[:q.prefix_length])
            if got is not None:
                return got[:self.max_expansions]
            # fallback (max_edits beyond the seek index depth): pruned
            # distributed scan of the sorted dictionary
            if q.prefix_length > 0:
                t = t.where(c.startswith(q.term[:q.prefix_length]))
            t = t.where((F.length(c) >= len(q.term) - q.max_edits)
                        & (F.length(c) <= len(q.term) + q.max_edits))
            if q.transpositions:
                # Damerau(OSA) <= Levenshtein <= 2*Damerau: prune JVM-side
                # at 2*max_edits, verify the (small) candidate list with
                # exact OSA distance driver-side — a transposition costs
                # one edit, as the reference default does
                # (solr-8.4.0/.../search/FuzzyQuery.java:35,85)
                t = t.where(F.levenshtein(c, F.lit(q.term))
                            <= 2 * q.max_edits)
                rows = (t.select("term").orderBy("term")
                        .limit(4 * self.max_expansions).collect())
                keep = [r.term for r in rows
                        if _osa_distance(r.term, q.term) <= q.max_edits]
                return keep[:self.max_expansions]
            t = t.where(F.levenshtein(c, F.lit(q.term)) <= q.max_edits)
        else:
            return None
        rows = (t.select("term").orderBy("term")
                .limit(self.max_expansions).collect())
        return [r.term for r in rows]

    def _field_terms(self, field: str | None) -> DataFrame:
        """The terms rows of one field: None or the default field's NAME
        select the default field's rows (field IS NULL)."""
        if field is None or field == self._default_field:
            return self._terms_src.where(F.col("field").isNull())
        return self._terms_src.where(F.col("field") == field)

    def _fuzzy_seek_terms(self, term: str, max_edits: int,
                          field: str | None = None,
                          transpositions: bool = True,
                          prefix: str = "") -> list | None:
        """Sub-linear fuzzy candidate generation — the
        FST-intersect-LevenshteinAutomata seek (operators/fuzzy.py):
        driver pyarrow lookup of the query term's deletion variants
        against the per-index symmetric-delete side table (built once,
        lazily), exact OSA/Levenshtein verify, sorted ascending. Returns
        None when the seek can't answer completely (max_edits beyond the
        indexed depth) so callers fall back to the distributed scan."""
        from .operators.fuzzy import seek_candidates
        if field is not None and field == self._default_field:
            field = None
        try:
            cands = seek_candidates(self.index, term, max_edits,
                                    field=field)
        except Exception:
            return None
        if cands is None:
            return None
        if prefix:
            cands = [c for c in cands if c.startswith(prefix)]
        if transpositions:
            return [c for c in cands
                    if _osa_distance(c, term) <= max_edits]
        from .functions.editdist import levenshtein_le
        return [c for c in cands if levenshtein_le(c, term, max_edits)]

    def analyze(self, text: str, field: str | None = None) -> list:
        """Run query TEXT through this index's own analyzer — the
        QueryParser-shares-the-Analyzer discipline (the reference parser
        is constructed with the index's Analyzer,
        solr-8.4.0/.../queryparser/classic/QueryParser.java): tokenize,
        lowercase, stop-filter (holes dropped), and stem exactly as the
        index was built, so terms match stemmed/Unicode indexes. A named
        `field` uses that field's own chain when the index was built with
        per-field analyzers (the PerFieldAnalyzerWrapper model). Returns
        the analyzed terms in order."""
        from .functions.analysis import tokenize_series
        cfg = self.index.analyzer
        if field is not None and field != self._default_field:
            cfg = self.index.field_analyzers.get(field, cfg)
        toks = tokenize_series(pd.Series([text]), cfg)[0]
        return [t for t in toks if t is not None]

    def text_query(self, text: str, occur=None):
        """BooleanQuery over the analyzed terms of `text` (one SHOULD —
        or `occur` — clause per token): the minimal "parse with the
        index's analyzer" surface for stemmed/Unicode indexes.

        When the index's analyzer carries QUERY-time synonym rules
        (AnalyzerConfig.synonyms, synonyms_at="query" — the
        SynonymGraphFilter-in-the-search-analyzer configuration), each
        token run matching a rule's lhs becomes a per-position group the
        way the reference QueryBuilder consumes the synonym graph
        (solr-8.4.0/.../util/QueryBuilder.java analyzeGraphBoolean):
        all-single-word groups become a SynonymQuery (freqs summed, one
        pseudo-term df); groups with a multi-word side become a SHOULD
        BooleanQuery of phrase/term alternatives. Index-time rules
        (synonyms_at="index") do NOT expand here — the postings already
        carry the injected terms."""
        occur = occur if occur is not None else Q.Occur.SHOULD
        terms = self.analyze(text)
        if not terms:
            return Q.MatchNoDocsQuery()
        cfg = self.index.analyzer
        syn = (dict(cfg.synonyms)
               if cfg.synonyms and cfg.synonyms_at == "query" else None)
        if not syn:
            if len(terms) == 1:
                return Q.TermQuery(terms[0])
            return Q.BooleanQuery([(occur, Q.TermQuery(t)) for t in terms])
        max_n = max(len(lhs.split()) for lhs in syn)
        clauses = []
        i = 0
        while i < len(terms):
            hit = None
            for n in range(min(max_n, len(terms) - i), 0, -1):
                lhs = " ".join(terms[i:i + n])
                if lhs in syn:
                    hit = (lhs, syn[lhs], n)
                    break
            if hit is None:
                clauses.append(Q.TermQuery(terms[i]))
                i += 1
                continue
            lhs, rhss, n = hit
            alts = [lhs, *rhss]
            if all(" " not in a for a in alts):
                clauses.append(Q.SynonymQuery(sorted(alts)))
            else:
                subs = [Q.PhraseQuery(a.split()) if " " in a
                        else Q.TermQuery(a) for a in sorted(alts)]
                clauses.append(Q.BooleanQuery(
                    [(Q.Occur.SHOULD, s) for s in subs]))
            i += n
        if len(clauses) == 1:
            return clauses[0]
        return Q.BooleanQuery([(occur, c) for c in clauses])

    def phrase_query(self, text: str, slop: int = 0):
        """Analyzed QUOTED-phrase construction — QueryBuilder's
        createPhraseQuery/analyzeGraphPhrase role (solr-8.4.0/lucene/core/
        src/java/org/apache/lucene/util/QueryBuilder.java:243-260,546-575):
        analyze the text with the index's chain; when query-time synonym
        rules put single-word alternatives at a position, the result is a
        MultiPhraseQuery whose slot is the alternative set (the graph's
        side-by-side arcs); with no applicable rules it stays a plain
        PhraseQuery.  Multi-word synonym sides inside a phrase (the
        reference builds SpanNear there) fall back to ignoring that rule —
        a documented divergence, matching analyzeGraphPhrase's pre-graph
        behavior."""
        terms = self.analyze(text)
        if not terms:
            return Q.MatchNoDocsQuery()
        cfg = self.index.analyzer
        syn = (dict(cfg.synonyms)
               if cfg.synonyms and cfg.synonyms_at == "query" else None)
        if len(terms) == 1 and not syn:
            return Q.TermQuery(terms[0])
        slots = []
        for t in terms:
            alts = (t,)
            if syn and t in syn:
                singles = [r for r in syn[t] if " " not in r]
                alts = tuple(sorted({t, *singles}))
            slots.append(alts)
        if all(len(s) == 1 for s in slots):
            if len(slots) == 1:
                return Q.TermQuery(slots[0][0])
            return Q.PhraseQuery([s[0] for s in slots], slop=slop)
        return Q.MultiPhraseQuery(slots, slop=slop)

    def rewrite(self, query):
        if self._default_field is not None:
            query = Q.map_fields(
                query,
                lambda f: None if f == self._default_field else f)
        return rewrite_query(query, self._ctx)

    def _key_filter(self, keys):
        """Catalyst predicate selecting the given term KEYS from a table
        with (field, term) columns: (field IS NULL AND term IN bare) OR
        (field = f AND term IN ...) per named field — pushes down to the
        parquet scan as an OR of conjunctions."""
        def q(s: str) -> str:
            return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

        def inlist(ts) -> str:
            return "term IN (" + ",".join(q(t) for t in sorted(ts)) + ")"

        bare = sorted(k for k in keys if isinstance(k, str))
        by_field: dict = {}
        for k in keys:
            if not isinstance(k, str):
                by_field.setdefault(k[0], []).append(k[1])
        conds = []
        if bare:
            conds.append(f"({inlist(bare)} AND field IS NULL)")
        for f, ts in sorted(by_field.items()):
            conds.append(f"(field = {q(f)} AND {inlist(ts)})")
        if not conds:
            return F.lit(False)
        # ONE py4j round trip for the whole predicate — per-literal
        # Column building (isin) cost ~1 ms × term over the gateway
        # socket, a measurable slice of hot-serving latency
        return F.expr(" OR ".join(conds))

    # ---------------- stats gathering (once per query)
    def _global_stats(self, terms: set) -> ex.SegmentStats:
        dfs, ttfs = {}, {}
        missing = [t for t in terms if t not in self._stats_cache]
        if missing:
            # driver-side pyarrow seek of the sorted terms parquet — no
            # Spark job, so a cold query runs as ONE job (kernel only)
            found = self.index.term_stats_lookup(missing)
            for t in missing:
                self._stats_cache[t] = found.get(t, (0, 0))
        for t in terms:
            df_, ttf = self._stats_cache[t]
            if df_ > 0:
                dfs[t], ttfs[t] = df_, ttf
        s = self.index.stats
        return ex.SegmentStats(
            doc_count=s["doc_count"],
            sum_total_term_freq=s["sum_total_term_freq"],
            doc_freqs=dfs, total_term_freqs=ttfs, k1=self.k1, b=self.b,
            similarity=self.similarity, field_stats=self._field_stats)

    # ---------------- global theta seeding (MaxScoreAccumulator completion)
    def _seed_theta(self, plan: dict, stats: ex.SegmentStats,
                    k: int) -> float:
        """Driver-side GLOBAL competitive-threshold floor, completing the
        MaxScoreAccumulator role across tasks
        (L/search/IndexSearcher.java:399-402, MaxScoreAccumulator.java —
        Lucene shares the floor between slices through an atomic; Spark
        tasks can't share memory, so the floor is computed ONCE at the
        driver from index-time impacts and pickled into every task's
        theta dict).

        Safety: each stored impact pair (freq, norm) of a term was
        observed on a real document, and all pairs of one (term, segment)
        belong to DISTINCT docs — so the k-th largest achieved
        single-term score over a term's impact pairs is attained by k
        distinct matching docs, hence a true lower bound on the global
        k-th best score (any matching doc's total is a float64 sum of
        non-negative clause scores >= its single-clause score, and
        rounding a float64 >= an exactly-representable float32 to nearest
        cannot go below it). Eligible shapes: pure disjunctions
        (msm <= 1, no FILTER/MUST_NOT) seed from every term-bearing unit,
        a single-MUST query (msm == 0) seeds from that unit; synonym
        units seed from members (summed freq >= member freq, monotone),
        dismax from members (max >= member). Deleted docs void the
        achievedness argument, so any tombstones disable seeding."""
        pairs = self._theta_pairs(plan, stats)
        if not pairs:
            return 0.0
        # sort key via repr: term keys mix bare strings and (field, term)
        # tuples, which don't compare to each other directly
        memo_key = (tuple(sorted(((kk, float(w)) for kk, w in pairs),
                                 key=repr)), k)
        got = self._theta_seed_cache.get(memo_key)
        if got is not None:
            return got
        imp = self._impacts_for([kk for kk, _ in pairs])
        best = 0.0
        for kk, w in pairs:
            got_i = imp.get(kk)
            if got_i is None or len(got_i[0]) < k:
                continue  # fewer than k achieved scores: no floor
            cache = stats.cache_for(key_field(kk))
            sc = bm25.score_term(got_i[0], got_i[1], w, cache)
            kth = float(np.partition(sc, -k)[-k])
            if kth > best:
                best = kth
        self._theta_seed_cache[memo_key] = best
        return best

    def _theta_pairs(self, plan: dict, stats: ex.SegmentStats) -> list:
        """Eligible (key, weight) achieved-score sources for a plan, or []
        when the shape disqualifies seeding (see _seed_theta safety)."""
        if plan["must_not"] or any(u.get("filter") for u in plan["units"]):
            return []
        units = plan["units"]
        musts = [u for u in units if u.get("is_must")]
        if musts:
            if len(musts) != 1 or plan.get("msm", 0) > 0:
                return []
            units = musts
        elif plan.get("msm", 0) > 1:
            return []
        F32 = np.float32
        pairs = []  # (key, weight) eligible achieved-score sources
        for u in units:
            if u["kind"] == "term":
                pairs.append((u["key"],
                              F32(F32(u["boost"]) * stats.idf(u["key"]))))
            elif u["kind"] == "synonym":
                from .functions import bm25 as _bm25
                df = max((stats.doc_freqs.get(kk, 0) for kk in u["keys"]),
                         default=0)
                if df > 0:
                    w = F32(F32(u["boost"]) * _bm25.idf(
                        df, stats.doc_count_for(u.get("field"))))
                    pairs.extend((kk, w) for kk in u["keys"])
            elif u["kind"] == "dismax":
                pairs.extend(
                    (m["key"], F32(F32(m["boost"]) * stats.idf(m["key"])))
                    for m in u["members"])
            # phrase units contribute no pairs (a term-achieving doc need
            # not match the phrase) but don't void the other units' floors
        return [(kk, w) for kk, w in pairs if float(w) > 0]

    def _impacts_for(self, keys) -> dict:
        """Key-level memoized impacts read. A batch (_topk_frame) prefetches
        the UNION of its queries' keys through this in ONE pyarrow read —
        the round-4 regression was 32 per-query reads before one job."""
        missing = [kk for kk in keys if kk not in self._impacts_cache]
        if missing:
            found = self.index.impacts_lookup(missing)
            for kk in missing:
                self._impacts_cache[kk] = found.get(kk)
        return {kk: self._impacts_cache[kk] for kk in keys}

    # ---------------- kernels
    def _segnorms_broadcast(self):
        """The per-(segment, field) norm blobs parsed once at the driver
        and BROADCAST, so hot queries and cold queries under the
        _small_norms bound skip the segnorms cogroup side entirely (one
        stage per query instead of a cogroup exchange). ~1 byte/doc/field;
        larger norms keep the cogroup."""
        if self._norms_bc is None:
            self._norms_bc = self.index.spark.sparkContext.broadcast(
                self.index.segnorms_parsed())
        return self._norms_bc

    def _posting_cols(self, extra_cols=()) -> list:
        """The postings column list — positions/payload/offset columns
        (the .pos/.pay file analogues) only when the caller asks for them
        (SURVEY.md §3.3.4 lazy-positions); docmap-only union columns
        never."""
        return ["term", "field", "segment", "doc_freq", "total_term_freq",
                "block_max_docs", "block_ns", "block_docs", "block_freqs",
                "imp_freqs", "imp_norms", *extra_cols]

    def _posting_frame(self, keys, extra_cols=()) -> DataFrame:
        """Pruned postings scan for a set of term keys: pushed-down key
        filter plus column pruning (_posting_cols)."""
        return (self._post_src.where(self._key_filter(keys))
                .select(*self._posting_cols(extra_cols)))

    def _segnorms_with_deletes(self, sn: DataFrame) -> DataFrame:
        """Big-deletes fallback (tombstones beyond the driver cap): union
        the DISTRIBUTED deletes table into the norms cogroup side as extra
        rows (del_docid non-null), semi-joined to sn's segments — the
        compaction cogroup shape. Each kernel task then receives its own
        segment's tombstones without any driver collect or broadcast; the
        kernels split the rows back apart (_split_sn_deletes)."""
        d = self.index.deletes().join(
            sn.select("segment").distinct(), "segment")
        sn2 = sn.withColumn("del_docid", F.lit(None).cast("long"))
        dd = d.select(
            "segment", F.lit(None).cast("string").alias("field"),
            F.lit(None).cast("long").alias("max_doc"),
            F.lit(None).cast("binary").alias("norms"),
            F.col("docid").cast("long").alias("del_docid"))
        return sn2.unionByName(dd)

    def _cogroup(self, post: DataFrame, with_deletes: bool = False):
        # norms come from the tiny per-segment blob table (1 row/segment),
        # NOT the docmap — a query never shuffles per-doc rows. The blob
        # side is semi-joined down to segments that actually hold matching
        # postings: segments without postings can't produce hits, and a
        # cogroup shuffle partition whose postings side has zero Arrow
        # batches segfaults pyspark's reader (same bug as the global-empty
        # guard in _topk_frame)
        sn = (self.index.segnorms()
              .join(post.select("segment").distinct(), "segment"))
        if with_deletes:
            sn = self._segnorms_with_deletes(sn)
        return post.groupBy("segment").cogroup(sn.groupBy("segment"))

    def _topk_frame(self, queries: dict, k: int | None, mode: str = "auto",
                    after: tuple | None = None, local: bool = False
                    ) -> DataFrame | pd.DataFrame:
        """Per-segment top-k (every match when k is None) of MANY rewritten
        queries {qid: query} in ONE Spark job: DataFrame(qid, segment,
        docid, score). The one kernel path behind search (a batch of one)
        and search_many; stats, block-max plans, the impacts prefetch and
        theta seeding happen once for the batch, `mode` and `after` apply
        to all of it. local=True runs the same kernel_body in this process
        instead (the driver path, see _search_local) and returns the rows
        as a pandas frame."""
        schema = "qid string, segment int, docid long, score float"
        all_terms: set = set()
        for q in queries.values():
            all_terms |= Q.scoring_terms(q) | _filter_terms(q)
        stats = self._global_stats(all_terms)
        blockmax = (mode in ("auto", "blockmax") and stats.is_bm25
                    and k is not None and after is None)
        plans = {qid: classify_blockmax(q) if blockmax else None
                 for qid, q in queries.items()}
        matchall = [qid for qid, q in queries.items()
                    if _contains_matchall(q)]

        # an all-absent term set means the postings scan is empty; a
        # zero-batch nested-schema side crashes pyspark's Arrow reader
        # (pyspark 4.1 arrow_to_pandas segfault), and we can answer without
        # the kernel anyway unless a MatchAll clause is involved
        has_postings = any(stats.doc_freqs.get(t, 0) > 0 for t in all_terms)
        if not has_postings and not matchall:
            return (_no_hits() if local
                    else self.index.spark.createDataFrame([], schema))

        dels = self._deleted_by_segment()
        big_deletes = self._big_deletes
        del_bc = None if local else self._deleted_broadcast()
        # task-local theta floor per qid: this dict is pickled into each
        # task's closure copy, so segments processed by the SAME task seed
        # each other's competitive threshold (the MaxScoreAccumulator
        # slice-sharing analogue, IndexSearcher.java:399-402) with zero
        # cross-task coordination; exact because any subset's k-th score
        # lower-bounds the global k-th and skips stay strict.
        # When the query shape allows it, the dict starts PRE-SEEDED with
        # the driver-computed global floor from index-time impacts
        # (_seed_theta) — every task, including each one's FIRST segment,
        # then prunes against a near-final threshold
        task_theta: dict = {}
        if not dels and not big_deletes:
            # prefetch the UNION of the batch's eligible keys in ONE
            # pyarrow read: per-query reads cost 32 driver round-trips and
            # caused the round-4 batch_32_hot 1.9x regression
            batch_keys = {kk for plan in plans.values() if plan is not None
                          for kk, _ in self._theta_pairs(plan, stats)}
            if batch_keys:
                self._impacts_for(batch_keys)
            for qid, plan in plans.items():
                if plan is not None:
                    t0 = self._seed_theta(plan, stats, k)
                    if t0 > 0.0:
                        task_theta[qid] = t0

        # term-only plans go to the dense batch accumulator on segments
        # of at most DENSE_MAX_DOC docs; read here, on the driver, so the
        # closure carries the instance's value into every task
        dense_max = self.DENSE_MAX_DOC
        dense_ok = {qid for qid, plan in plans.items() if is_term_plan(plan)}

        def kernel_body(seg: int, post_pdf: pd.DataFrame, norms, max_doc,
                        fnorms, dele2=None, qids=tuple(queries)
                        ) -> pd.DataFrame:
            reader = SparkSegmentReader(post_pdf, norms, max_doc,
                                        field_norms=fnorms)
            dele = dele2 if dele2 is not None else (
                del_bc.value.get(seg) if del_bc is not None else None)
            dense_q = ([qid for qid in qids if qid in dense_ok]
                       if max_doc <= dense_max else [])
            dense = dict(zip(dense_q, dense_topk(
                reader, stats, [plans[qid] for qid in dense_q], k, max_doc,
                deleted=dele))) if dense_q else {}
            ds, ss = [], []
            for qid in qids:
                plan = plans[qid]
                if plan is not None:
                    if qid in dense:
                        d, s = dense[qid]
                    else:
                        d, s, _ = blockmax_topk(reader, stats, plan, k,
                                                deleted=dele,
                                                theta0=task_theta.get(qid))
                    if len(d) == k:
                        task_theta[qid] = max(task_theta.get(qid, 0.0),
                                              float(s[-1]))
                else:
                    m = ex.evaluate(reader, stats, queries[qid])
                    d, s = m.docids, m.scores
                    if dele is not None:
                        keep = ~np.isin(d, dele, assume_unique=True)
                        d, s = d[keep], s[keep]
                    if after is not None:
                        # searchAfter cursor (IndexSearcher.java:388-422):
                        # keep docs strictly after (score, segment, docid)
                        a_s, a_seg, a_doc = (np.float32(after[0]),
                                             after[1], after[2])
                        keep = (s < a_s) | ((s == a_s) & (
                            (seg > a_seg) | ((seg == a_seg) & (d > a_doc))))
                        d, s = d[keep], s[keep]
                    if k is not None:
                        d, s = ex.top_k(ex.Matches(d, s), k)
                ds.append(d)
                ss.append(s)
            # one frame per call: a frame per (qid, segment) plus a concat
            # cost more than the scoring on small segments
            lens = [len(d) for d in ds]
            return pd.DataFrame({
                "qid": np.repeat(np.array(qids, dtype=object), lens),
                "segment": np.full(sum(lens), seg, dtype=np.int32),
                "docid": np.concatenate(ds).astype(np.int64, copy=False),
                "score": np.concatenate(ss).astype(np.float32, copy=False)})

        # pyspark picks the grouped-UDF calling convention by argument
        # count, so these keep exactly (key, post[, sn]) parameters — and
        # no type hints: any annotation makes it try (and, without one on
        # `key`, fail) eval-type inference, with a warning per call
        def kernel(key, post_pdf, sn_pdf):
            sn_rows, dele2 = _split_sn_deletes(sn_pdf)
            if len(sn_rows) == 0:
                return _no_hits()
            return kernel_body(int(key[0]), post_pdf,
                               *parse_segnorms(sn_rows), dele2=dele2)

        def kernel_sn(key, sn_pdf):
            # norms-only: only the MatchAll-bearing qids can match here
            sn_rows, dele2 = _split_sn_deletes(sn_pdf)
            if len(sn_rows) == 0:
                return _no_hits()
            return kernel_body(int(key[0]), pd.DataFrame({"term": []}),
                               *parse_segnorms(sn_rows), dele2=dele2,
                               qids=matchall)

        pos_cols = (("pos_offsets", "pos_data")
                    if any(_needs_positions(q) for q in queries.values())
                    else ())
        if local:
            # the driver path: kernel_body once per segment over a pyarrow
            # read of the pruned postings rows; MatchAll-bearing qids also
            # run over the norms of the segments holding no postings (every
            # segment when there are none) — the coverage rule
            norms = self.index.segnorms_parsed()
            dels = dels or {}
            out, seen = [], set()
            if has_postings:
                rows = self.index.postings_rows(
                    all_terms, self._posting_cols(pos_cols)).to_pandas()
                for seg, g in rows.groupby("segment"):
                    seg = int(seg)
                    seen.add(seg)
                    if seg in norms:
                        out.append(kernel_body(
                            seg, g.reset_index(drop=True), *norms[seg],
                            dele2=dels.get(seg)))
            if matchall:
                for seg in sorted(set(norms) - seen):
                    out.append(kernel_body(
                        seg, pd.DataFrame({"term": []}), *norms[seg],
                        dele2=dels.get(seg), qids=matchall))
            return pd.concat(out, ignore_index=True) if out else _no_hits()

        parts = []
        if has_postings:
            post = self._posting_frame(all_terms, pos_cols)
            if (self._hot or self._small_norms) and not big_deletes:
                # one-stage fast path: norms ride a broadcast instead of a
                # cogroup side. Hot mode reads the persisted pre-partitioned
                # postings (groupBy reuses the partitioning — no exchange);
                # cold-with-small-norms shuffles only the pruned postings
                # rows of the batch's terms (an explicit repartition so AQE
                # can't coalesce the compute-bound kernel onto one task)
                bc = self._segnorms_broadcast()

                def kernel_hot(key, post_pdf):
                    got = bc.value.get(int(key[0]))
                    if got is None:
                        return _no_hits()
                    return kernel_body(int(key[0]), post_pdf, *got)

                pf = post if self._hot else post.repartition(self._n_part,
                                                             "segment")
                parts.append(pf.groupBy("segment")
                             .applyInPandas(kernel_hot, schema=schema))
            else:
                parts.append(self._cogroup(post, big_deletes)
                             .applyInPandas(kernel, schema=schema))
        if matchall:
            # segments holding NONE of the batch's terms still match
            # through a MatchAll clause (term clauses contribute nothing
            # there): run them on the norms-only kernel and union — the
            # postings-driven kernel above cannot cover them, and feeding
            # it zero-postings groups would hit the zero-batch Arrow bug.
            # With no postings at all, that is every segment
            rest = self.index.segnorms()
            if has_postings:
                rest = rest.join(post.select("segment").distinct(),
                                 "segment", "left_anti")
            if big_deletes:
                rest = self._segnorms_with_deletes(rest)
            parts.append(rest.groupBy("segment")
                         .applyInPandas(kernel_sn, schema=schema))
        return reduce(DataFrame.unionByName, parts)

    def _run(self, query, k: int | None, mode: str,
             after: tuple | None = None) -> DataFrame:
        """One query through _topk_frame: DataFrame(segment, docid,
        score)."""
        return self._topk_frame({"q": self.rewrite(query)}, k, mode,
                                after).drop("qid")

    # ---------------- public API
    def search(self, query, k: int = 10, mode: str = "auto",
               with_ids: bool = True, after: tuple | None = None
               ) -> DataFrame:
        """Top-k BM25. Returns DataFrame(rank, segment, docid, score [, id
        cols]) with (score desc, segment asc, docid asc) order.

        after=(score, segment, docid) pages past a previous result row
        (searchAfter, IndexSearcher.java:388-422).

        Behind the _driver_path gate the query runs eagerly in this
        process and the DataFrame holds its rows; otherwise it is the lazy
        Spark plan."""
        if self._driver_path():
            return self._search_local(query, k, mode, with_ids, after)
        res = (self._run(query, k, mode, after=after)
               .orderBy(F.desc("score"), "segment", "docid").limit(k))
        res = _rank_limited(
            res, [F.desc("score"), "segment", "docid"], "docid")
        if with_ids:
            dm = self.index.docmap().select(
                "segment", "docid", *self.index.id_cols)
            # k rows vs the full docmap: broadcast the tiny result side
            res = dm.join(F.broadcast(res), on=["segment", "docid"],
                          how="inner")
        cols = ["rank", "segment", "docid", "score"] + (
            self.index.id_cols if with_ids else [])
        return res.select(*cols).orderBy("rank")

    def _driver_path(self) -> bool:
        """Whether a search() runs on the driver: the index-size gate of
        __init__, plus tombstones the driver holds (not beyond
        TOMBSTONE_DRIVER_CAP) and no docvalues overlays, which only the
        Spark docmap applies."""
        if not self._local or self.index.manifest.get("dv_updates"):
            return False
        self._deleted_by_segment()
        return not self._big_deletes

    def _search_local(self, query, k: int, mode: str, with_ids: bool,
                      after: tuple | None) -> DataFrame:
        """search() on the driver: the kernel rows come from _topk_frame
        (local=True), the id columns from a pyarrow docmap point-read, and
        the result is a DataFrame over a pyarrow Table — a LocalRelation,
        so collecting it starts no job either (a DataFrame over a Python
        list would run one, with a Python task)."""
        import pyarrow as pa
        res = (self._topk_frame({"q": self.rewrite(query)}, k, mode, after,
                                local=True)
               .sort_values(["score", "segment", "docid"],
                            ascending=[False, True, True])
               .head(k))
        tbl = pa.table({
            "rank": pa.array(np.arange(1, len(res) + 1), pa.int32()),
            "segment": pa.array(res["segment"], pa.int32()),
            "docid": pa.array(res["docid"], pa.int64()),
            "score": pa.array(res["score"], pa.float32())})
        if with_ids:
            ids = self.index.docmap_rows(res["segment"], res["docid"],
                                         self.index.id_cols)
            tbl = (tbl.join(ids, ["segment", "docid"], join_type="inner")
                   .sort_by("rank")
                   .select(["rank", "segment", "docid", "score",
                            *self.index.id_cols]))
        # rank is non-nullable, as row_number makes it on the Spark path
        tbl = tbl.cast(tbl.schema.set(
            0, tbl.schema.field(0).with_nullable(False)))
        return self.index.spark.createDataFrame(tbl)

    def matches(self, query) -> DataFrame:
        """All matching docs: DataFrame(segment, docid, score)."""
        return self._run(query, None, "complete")

    def cached_matches(self, query) -> DataFrame:
        """Filter-context matches through the LRU query cache: the first
        call evaluates and persists the (segment, docid) set; repeats reuse
        it without re-running the kernel (Query objects are frozen
        dataclasses, so the rewritten tree is the cache key)."""
        rq = self.rewrite(query)
        key = (rq, self.similarity)
        got = self.query_cache.get(key)
        if got is not None:
            return got
        df = self._run(rq, None, "complete").select("segment",
                                                    "docid").persist()
        self.query_cache.put(key, df)
        return df

    def _live_docmap(self) -> DataFrame:
        """The docmap without the snapshot's tombstoned docs."""
        dm = self.index.docmap()
        dels = self.index.deletes()
        if dels is not None:
            dm = dm.join(dels, ["segment", "docid"], "left_anti")
        return dm

    def numeric_range_docs(self, lower, upper, col: str = "dl",
                           include_lower: bool = True,
                           include_upper: bool = True) -> DataFrame:
        """PointRangeQuery / numeric-DocValues range analogue
        (solr-8.4.0/.../search/PointRangeQuery.java capability, SURVEY §2.8):
        a range predicate over a stored per-doc numeric column of the
        docmap. The predicate pushes down to the parquet scan, so row-group
        stats prune non-matching ranges — the BKD tree's role re-expressed
        as columnar min/max pruning. Returns (segment, docid, <col>)."""
        dm = self._live_docmap()
        c = F.col(col)
        if lower is not None:
            dm = dm.where(c >= lower if include_lower else c > lower)
        if upper is not None:
            dm = dm.where(c <= upper if include_upper else c < upper)
        return dm.select("segment", "docid", *self.index.id_cols, col)

    def _live_values(self, docvalues: DataFrame | None,
                     cols: list[str]) -> DataFrame:
        """Shared access path of the docvalues-style queries below: the
        per-doc value rows to test a predicate against. None -> the
        docmap itself (stored columns; predicates push to its parquet
        scan). A DataFrame -> an external columnar docvalues table keyed
        by the index's FIRST id column (the same side-table convention
        as knn()'s `vectors`); tombstones are dropped by joining the
        live docmap AFTER the caller filters the value side, so the
        pushed-down predicate — not the join — does the heavy pruning."""
        dm = self._live_docmap()
        if docvalues is None:
            return dm.select("segment", "docid", *self.index.id_cols,
                             *[c for c in cols
                               if c not in self.index.id_cols])
        id0 = self.index.id_cols[0]
        return docvalues.join(
            dm.select("segment", "docid", id0), id0)

    def field_exists_docs(self, col: str,
                          docvalues: DataFrame = None) -> DataFrame:
        """FieldExistsQuery / DocValuesFieldExistsQuery (demos
        FieldExistQueryTest.java, DocValuesExistQuery.java; the
        KnnVectorFieldExistsQuery form in LuceneDemo9.8.0
        TestSparseKNN.java — pass the vectors side-table as `docvalues`
        to select docs that have a vector): docs that HAVE a value for
        the field. IsNotNull is
        sargable — it reaches the parquet scan as a pushed filter, and
        row groups whose null-count equals their row-count are skipped
        (the reference answers this from the FieldInfos/DocValues
        iterator without visiting documents; null stats play that
        role here). Returns (segment, docid, <id cols>)."""
        side = (docvalues.where(F.col(col).isNotNull())
                if docvalues is not None else None)
        out = self._live_values(side, [col])
        if docvalues is None:
            out = out.where(F.col(col).isNotNull())
        return out.select("segment", "docid", *self.index.id_cols)

    def point_in_set_docs(self, values, col: str,
                          docvalues: DataFrame = None) -> DataFrame:
        """PointInSetQuery / SortedNumericDocValuesSetQuery (demos
        TestPointInSetQuery.java, TestSortedNumericDocValuesSetQuery
        .java): exact-set membership over a per-doc numeric/keyword
        column. Pushes down as an In(...) scan filter, so parquet
        min/max (and dictionary) stats prune row groups — the
        PointInSetQuery BKD intersect re-expressed. Returns
        (segment, docid, <id cols>, <col>)."""
        vals = sorted(set(values))
        side = (docvalues.where(F.col(col).isin(vals))
                if docvalues is not None else None)
        out = self._live_values(side, [col])
        if docvalues is None:
            out = out.where(F.col(col).isin(vals))
        return out.select("segment", "docid", *self.index.id_cols, col)

    def range_field_docs(self, lower, upper, relation: str = "intersects",
                         min_col: str = "range_min",
                         max_col: str = "range_max",
                         docvalues: DataFrame = None) -> DataFrame:
        """Range-field queries (IntRange / RangeFieldQuery.QueryType —
        demos IntRangeTest.java, IntRangeDocValuesFieldTest.java): each
        doc stores an interval [min_col, max_col]; select docs whose
        interval INTERSECTS / is WITHIN / CONTAINS / CROSSES the query
        range [lower, upper]. Pure range predicates on two columns: the
        intersects/within/contains forms are sargable (parquet row-group
        min/max prune both bounds); crosses = intersects minus the two
        containment forms, the reference's definition
        (RangeFieldQuery.java QueryType.CROSSES). Endpoints inclusive,
        as in the reference. Returns (segment, docid, <id cols>,
        min_col, max_col)."""
        lo, hi = F.col(min_col), F.col(max_col)
        intersects = (lo <= upper) & (hi >= lower)
        within = (lo >= lower) & (hi <= upper)
        contains = (lo <= lower) & (hi >= upper)
        preds = {"intersects": intersects, "within": within,
                 "contains": contains,
                 "crosses": intersects & ~within & ~contains}
        if relation not in preds:
            raise ValueError(f"unknown range relation {relation!r}; "
                             f"one of {sorted(preds)}")
        pred = preds[relation]
        side = docvalues.where(pred) if docvalues is not None else None
        out = self._live_values(side, [min_col, max_col])
        if docvalues is None:
            out = out.where(pred)
        return out.select("segment", "docid", *self.index.id_cols,
                          min_col, max_col)

    def knn(self, query_vec, k: int = 10, filter=None,
            vectors: DataFrame = None, vec_id_col: str = "vec_id",
            vec_col: str = "embedding", bucketed: DataFrame = None,
            ivf=None, nprobe: int = 4, n_planes: int = 8,
            probe_hamming: int = 1, seed: int = 42) -> DataFrame:
        """KNN vector search as a query-surface citizen — the
        KnnFloatVectorQuery capability with docid tie-break
        (LuceneDemo9.1.0/src/main/java/TestKNNQuery.java,
        TieBreakDocIdKNNQuery.java: equal scores order by id asc), here
        composable with ANY engine filter query ("top-k by cosine among
        docs matching lang:py").

        vectors: DataFrame keyed by `vec_id_col` whose values equal the
        index's FIRST id column (the stored-KnnVectorField analogue kept
        as its own columnar table — column pruning means text queries
        never read vectors).

        Routing (Lucene's KnnVectorQuery does the same split):
          - filter given -> EXACT cosine over the filter's match set: the
            filter runs through the normal postings kernel, its (tiny)
            id set semi-joins the vector table, and only those rows are
            scored. At any scale the filtered-exact path is the right
            plan when the filter is selective — per-query work is
            O(|matches|), not O(|corpus|).
          - no filter   -> ANN when an index is supplied: `bucketed` (a
            build_lsh_index frame -> multi-probe hyperplane LSH) or
            `ivf=(centroids, assigned_df_or_path)` (probed coarse cells;
            a path routes through the partition-pruned on-disk layout);
            else brute-force exact.
        Returns DataFrame(rank, <vec_id_col>, cosine) ordered
        (cosine desc, id asc)."""
        from .pipeline.similarity import (cosine_topk_bruteforce,
                                          cosine_topk_lsh, ivf_topk,
                                          ivf_topk_from_disk)
        if vectors is None and bucketed is None and ivf is None:
            raise ValueError("knn needs `vectors` (or an ANN index via "
                             "`bucketed`/`ivf`)")
        if vectors is not None:
            # sparse vector coverage (TestSparseKNN demos: most docs may
            # LACK the vector field) — null rows are not KNN candidates.
            # IsNotNull pushes to the parquet scan, so at scale the
            # vectorless majority is pruned before any scoring.
            vectors = vectors.where(F.col(vec_col).isNotNull())
        if filter is not None:
            id0 = self.index.id_cols[0]
            ids = (self.cached_matches(filter)
                   .join(self.index.docmap().select("segment", "docid",
                                                    id0),
                         ["segment", "docid"])
                   .select(F.col(id0).alias(vec_id_col)).distinct())
            # the match set is the SMALL side (the filtered-exact path is
            # for selective filters): broadcast it so the vector table is
            # scan-filtered in place — a sort-merge join would shuffle
            # the whole vector corpus per query at scale
            cand = vectors.join(F.broadcast(ids), vec_id_col, "left_semi")
            return cosine_topk_bruteforce(cand, query_vec, vec_id_col,
                                          vec_col, k)
        # unfiltered: exclude tombstoned docs when the snapshot has any
        dels = self.index.deletes()
        if dels is not None and vectors is not None:
            id0 = self.index.id_cols[0]
            live = (self.index.docmap()
                    .join(dels, ["segment", "docid"], "left_anti")
                    .select(F.col(id0).alias(vec_id_col)))
            vectors = vectors.join(live, vec_id_col, "left_semi")
        if ivf is not None:
            centroids, assigned = ivf
            if isinstance(assigned, str):
                return ivf_topk_from_disk(self.index.spark, assigned,
                                          centroids, query_vec, k, nprobe,
                                          vec_id_col, vec_col)
            return ivf_topk(assigned, centroids, query_vec, k, nprobe,
                            vec_id_col, vec_col)
        if bucketed is not None:
            dim = len(query_vec)
            return cosine_topk_lsh(vectors, query_vec, dim, vec_id_col,
                                   vec_col, k, n_planes, probe_hamming,
                                   seed, bucketed=bucketed)
        return cosine_topk_bruteforce(vectors, query_vec, vec_id_col,
                                      vec_col, k)

    def vector_exists_count(self, vectors: DataFrame,
                            vec_id_col: str = "vec_id",
                            vec_col: str = "embedding") -> DataFrame:
        """count(KnnVectorFieldExistsQuery) — how many docs carry a
        vector (TestSparseKNN demos,
        LuceneDemo9.8.0/src/main/java/TestSparseKNN1.java: the reader
        reports the vector count, not maxDoc, when the field is sparse).
        Tombstoned docs don't count. Returns one row (n_vectors)."""
        dels = self.index.deletes()
        if dels is not None:
            id0 = self.index.id_cols[0]
            live = (self.index.docmap()
                    .join(dels, ["segment", "docid"], "left_anti")
                    .select(F.col(id0).alias(vec_id_col)))
            vectors = vectors.join(live, vec_id_col, "left_semi")
        return (vectors.where(F.col(vec_col).isNotNull())
                .agg(F.count("*").alias("n_vectors")))

    def knn_many(self, queries: dict, k: int = 10, filter=None,
                 vectors: DataFrame = None, vec_id_col: str = "vec_id",
                 vec_col: str = "embedding", bucketed: DataFrame = None,
                 n_planes: int = 8, probe_hamming: int = 1,
                 seed: int = 42) -> DataFrame:
        """Batched KNN: MANY query vectors in ONE Spark job — the vector
        analogue of search_many (per-query scheduling amortized across
        the batch). queries = {qid: vector}. With a (shared) `filter`
        query: exact cosine over the filter's match set for EVERY query —
        the (qid, qvec) probe table is broadcast and one per-qid window
        reduces top-k. Without a filter: routes to the persisted LSH
        bucketing (cosine_topk_lsh_many) when given, else brute force.
        Returns DataFrame(qid, rank, <vec_id_col>, cosine), ties
        (cosine desc, id asc)."""
        from pyspark.sql import Window
        from .pipeline.similarity import (_dot, cosine_topk_lsh_many,
                                          with_norm)
        if filter is None and bucketed is not None:
            dim = len(next(iter(queries.values())))
            return cosine_topk_lsh_many(bucketed, queries, dim, vec_id_col,
                                        vec_col, k, n_planes,
                                        probe_hamming, seed)
        if vectors is None:
            raise ValueError("knn_many needs `vectors` (or `bucketed`)")
        cand = vectors
        id0 = self.index.id_cols[0]
        if filter is not None:
            ids = (self.cached_matches(filter)
                   .join(self.index.docmap().select("segment", "docid",
                                                    id0),
                         ["segment", "docid"])
                   .select(F.col(id0).alias(vec_id_col)).distinct())
            # broadcast the (selective) match set — see knn()
            cand = cand.join(F.broadcast(ids), vec_id_col, "left_semi")
        else:
            dels = self.index.deletes()
            if dels is not None:
                live = (self.index.docmap()
                        .join(dels, ["segment", "docid"], "left_anti")
                        .select(F.col(id0).alias(vec_id_col)))
                cand = cand.join(live, vec_id_col, "left_semi")
        rows = []
        for qid, qv in queries.items():
            qv = [float(x) for x in qv]
            rows.append((str(qid), qv, float(np.sqrt(np.dot(qv, qv)))))
        probe = self.index.spark.createDataFrame(
            rows, "qid string, qvec array<double>, qnorm double")
        scored = (with_norm(cand, vec_col)
                  .crossJoin(F.broadcast(probe))
                  .select("qid", F.col(vec_id_col),
                          (_dot(F.col(vec_col), F.col("qvec"))
                           / (F.col("_norm") * F.col("qnorm")))
                          .alias("cosine")))
        w = Window.partitionBy("qid").orderBy(F.desc("cosine"),
                                              F.col(vec_id_col))
        return (scored.withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= k)
                .select("qid", "rank", vec_id_col, "cosine"))

    def hybrid_rrf(self, query, query_vec, vectors, k: int = 10,
                   n_each: int | None = None, rrf_k: int = 60,
                   vec_id_col: str = "vec_id", vec_col: str = "embedding",
                   **knn_kwargs) -> DataFrame:
        """Hybrid lexical+vector retrieval fused with Reciprocal Rank
        Fusion — the Lucene 9.8 ``TopDocs#rrf`` capability
        (lucene/core/src/java/org/apache/lucene/search/TopDocs.java,
        Cormack et al. 2009): ``score(d) = Σ_lists 1/(rrf_k + rank_d)``
        over the BM25 top-``n_each`` and the KNN top-``n_each``, ties
        broken by id asc (TopDocs.rrf's docid tie-break).

        Scale shape: each leg is an independent top-n job (the lexical
        leg through the block-max kernel, the vector leg through
        whatever ANN index ``knn_kwargs`` routes to); the fusion itself
        joins two ≤n_each-row frames — driver-negligible at any corpus
        size. Returns DataFrame(rank, <id0>, lex_rank, vec_rank,
        rrf_score); absent-in-a-list ranks are 0, contributing nothing.
        """
        n = n_each or max(2 * k, 20)
        id0 = self.index.id_cols[0]
        lex = (self.search(query, n)
               .select(F.col(id0), F.col("rank").alias("lex_rank")))
        vec = (self.knn(query_vec, n, vectors=vectors,
                        vec_id_col=vec_id_col, vec_col=vec_col,
                        **knn_kwargs)
               .select(F.col(vec_id_col).alias(id0),
                       F.col("rank").alias("vec_rank")))
        fused = (lex.join(vec, id0, "full_outer")
                 .select(id0,
                         F.coalesce("lex_rank", F.lit(0))
                         .alias("lex_rank"),
                         F.coalesce("vec_rank", F.lit(0))
                         .alias("vec_rank")))
        # two-term f64 sum: commutative for exactly two addends, so the
        # oracle's FULL OUTER JOIN form reproduces it bit-for-bit
        contrib = [
            F.when(F.col(c) > 0, F.lit(1.0) / (F.lit(float(rrf_k))
                                               + F.col(c)))
            .otherwise(F.lit(0.0)) for c in ("lex_rank", "vec_rank")]
        fused = fused.withColumn("rrf_score", contrib[0] + contrib[1])
        top = (fused.orderBy(F.desc("rrf_score"), id0).limit(k))
        return (_rank_limited(top, [F.desc("rrf_score"), F.col(id0)], id0)
                .select("rank", id0, "lex_rank", "vec_rank", "rrf_score")
                .orderBy("rank"))

    def payload_score(self, term: str, function: str = "sum", k: int = 10,
                      field: str | None = None) -> DataFrame:
        """PayloadScoreQuery analogue (solr-8.4.0/lucene/queries/src/java/
        org/apache/lucene/queries/payloads/PayloadScoreQuery.java over a
        single SpanTermQuery with includeSpanScore=false; payload
        functions SumPayloadFunction / MaxPayloadFunction /
        MinPayloadFunction / AveragePayloadFunction): the doc's score is
        the chosen function over the float32 payloads at the term's
        positions (DelimitedPayloadTokenFilter indexes; sum accumulates
        in float32 position order like the reference's float docScore).
        Returns DataFrame(rank, segment, docid, score [, id cols]) in
        (score desc, segment, docid) order — the engine's standard tie
        rule stands in for Lucene's doc-order tie)."""
        if not self.index.manifest.get("with_payloads"):
            raise ValueError("index was built without payloads "
                             "(AnalyzerConfig(payload_delim=...))")
        if function not in ("sum", "max", "min", "avg"):
            raise ValueError(f"unknown payload function {function!r}")
        if field is not None and field == self._default_field:
            field = None
        kk = term_key(field, term)
        post = self._posting_frame({kk}, ("pay_offsets", "pay_data"))
        fn = function

        def kernel(pkey, post_pdf):
            seg = int(pkey[0])
            reader = SparkSegmentReader(post_pdf, np.zeros(0, np.uint8), 0)
            fp = reader.flat_payloads(kk)
            if fp is None:
                return pd.DataFrame({"segment": pd.Series([], "int32"),
                                     "docid": pd.Series([], "int64"),
                                     "score": pd.Series([], "float32")})
            docids, counts, vals = fp
            starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
            v32 = vals.astype(np.float32)
            if fn == "sum":
                agg = np.add.reduceat(v32, starts)
            elif fn == "max":
                agg = np.maximum.reduceat(v32, starts)
            elif fn == "min":
                agg = np.minimum.reduceat(v32, starts)
            else:  # avg = float32 sum / count (AveragePayloadFunction)
                agg = (np.add.reduceat(v32, starts)
                       / counts.astype(np.float32)).astype(np.float32)
            return pd.DataFrame({
                "segment": np.full(len(docids), seg, dtype=np.int32),
                "docid": docids,
                "score": agg.astype(np.float32)})

        res = (post.groupBy("segment")
               .applyInPandas(kernel,
                              schema="segment int, docid long, score float")
               .orderBy(F.desc("score"), "segment", "docid").limit(k))
        res = _rank_limited(
            res, [F.desc("score"), "segment", "docid"], "docid")
        dm = self.index.docmap().select(
            "segment", "docid", *self.index.id_cols)
        res = dm.join(F.broadcast(res), on=["segment", "docid"],
                      how="inner")
        return (res.select("rank", "segment", "docid", "score",
                           *self.index.id_cols).orderBy("rank"))

    def term_offsets(self, term: str, field: str | None = None
                     ) -> DataFrame:
        """Stored character offsets of every occurrence of `term` — the
        index-stored offsets capability (IndexOptions ..._AND_OFFSETS,
        solr-8.4.0/.../index/IndexOptions.java:25-53). Requires an index
        built with with_offsets=True. Returns DataFrame(segment, docid,
        term, starts array<long>, ends array<long>) with per-doc ascending
        occurrence offsets. No norms side is needed: this is a plain
        per-segment postings kernel."""
        return self.terms_offsets([term], field)

    def terms_offsets(self, terms: list, field: str | None = None
                      ) -> DataFrame:
        """term_offsets for MANY terms in ONE postings scan + kernel
        (one row per (segment, docid, term) holding that term's
        occurrence offsets)."""
        if not self.index.manifest.get("with_offsets"):
            raise ValueError("index was built without stored offsets "
                             "(build_index(with_offsets=True))")
        if field is not None and field == self._default_field:
            field = None
        keys = [term_key(field, t) for t in terms]
        post = self._posting_frame(set(keys), ("off_offsets", "off_data"))

        def kernel(pkey, post_pdf):
            seg = int(pkey[0])
            reader = SparkSegmentReader(post_pdf,
                                        np.zeros(0, np.uint8), 0)
            outs = []
            for kk in keys:
                fo = reader.flat_offsets(kk)
                if fo is None:
                    continue
                docids, counts, starts, ends = fo
                bounds = np.cumsum(counts)[:-1]
                outs.append(pd.DataFrame({
                    "segment": np.full(len(docids), seg, dtype=np.int32),
                    "docid": docids,
                    "term": key_term(kk),
                    "starts": pd.Series(np.split(starts, bounds),
                                        dtype=object),
                    "ends": pd.Series(np.split(ends, bounds),
                                      dtype=object)}))
            if not outs:
                return pd.DataFrame({"segment": [], "docid": [], "term": [],
                                     "starts": [], "ends": []})
            return pd.concat(outs, ignore_index=True)

        return (post.groupBy("segment")
                .applyInPandas(kernel,
                               schema="segment int, docid long, "
                                      "term string, starts array<long>, "
                                      "ends array<long>"))

    def count(self, query) -> int:
        """TotalHitCountCollector analogue (exact count), with the
        Weight#count fast paths of the reference (demo
        LuceneDemo9.10.0/src/main/java/TestCount.java; engine
        solr-8.4.0/.../search/Weight.java count + TermQuery/
        MatchAllDocsQuery overrides): on an index with NO tombstones, a
        MatchAll count is the manifest max_doc and a single-term count
        is the terms-dict doc_freq — both answered from index metadata
        with ZERO Spark jobs (the doc_freq comes from the driver-side
        pyarrow seek, term_stats_lookup). Score-only wrappers
        (ConstantScore / Boost) never change a count and are stripped.
        Any other shape, or any tombstones, falls back to counting the
        kernel's matches."""
        q = self.rewrite(query)
        fast = self._count_fast(q)
        if fast is not None:
            return fast
        return self._run(q, None, "complete").count()

    def _count_fast(self, q) -> int | None:
        """Metadata-only count for the shapes Weight#count can answer,
        else None. Safe only tombstone-free: a delete may hit a matching
        doc, and neither manifest stats nor the terms dict see liveness."""
        while isinstance(q, (Q.ConstantScoreQuery, Q.BoostQuery)):
            q = q.query
        if isinstance(q, Q.MatchNoDocsQuery):
            return 0
        if self.index.deletes() is not None:
            return None
        if isinstance(q, Q.MatchAllDocsQuery):
            return int(self.index.stats["max_doc"])
        if isinstance(q, Q.TermQuery):
            key = q.term if q.field is None else (q.field, q.term)
            st = self.index.term_stats_lookup({key})
            return int(st[key][0]) if key in st else 0
        return None

    def to_parent_join(self, child_query, parent, score_mode: str = "total",
                       k: int = 10) -> DataFrame:
        """ToParentBlockJoinQuery analogue (solr-8.4.0/lucene/join/src/java/
        org/apache/lucene/search/join/ToParentBlockJoinQuery.java:350-386):
        match children, roll their scores up to parents with the join
        ScoreMode (Total/Max/Min/Avg accumulate in double, final float
        cast; None scores 0). `parent` is a docmap column name or a
        Column expression over docmap columns (the BitSetProducer's
        parent-identification role — here parentage is a stored attribute,
        not block adjacency, which is the Spark-native equivalent of the
        reference's index-time parent blocks). Returns
        DataFrame(rank, parent, score, child_hits) ordered
        (score desc, parent asc)."""
        aggs = {"total": F.sum, "max": F.max, "min": F.min, "avg": F.avg}
        if score_mode not in aggs and score_mode != "none":
            raise ValueError(f"unknown score_mode {score_mode!r}")
        m = self._run(child_query, None, "complete")
        dm = self.index.docmap().select("segment", "docid",
                                        *self.index.id_cols)
        pcol = parent if not isinstance(parent, str) else F.col(parent)
        j = (m.join(dm, ["segment", "docid"])
             .withColumn("parent", pcol))
        if score_mode == "none":
            out = (j.groupBy("parent")
                   .agg(F.count("*").alias("child_hits"))
                   .withColumn("score", F.lit(0.0).cast("float")))
            order = [F.col("parent").asc()]
        else:
            out = (j.groupBy("parent")
                   .agg(aggs[score_mode](F.col("score").cast("double"))
                        .cast("float").alias("score"),
                        F.count("*").alias("child_hits")))
            order = [F.desc("score"), F.col("parent").asc()]
        out = out.orderBy(*order).limit(k)
        return (_rank_limited(out, order, "parent")
                .select("rank", "parent", "score", "child_hits"))

    def to_child_join(self, parent_query, parent, k: int = 10
                      ) -> DataFrame:
        """ToChildBlockJoinQuery analogue (solr-8.4.0/lucene/join/.../
        ToChildBlockJoinQuery.java): match PARENTS, return their CHILD
        docs, each child carrying its parent's score (the reference
        propagates parentScore to every child of an accepted parent).
        `parent` identifies each doc's parent (column name or Column over
        docmap columns — the stored-attribute parentage model, as in
        to_parent_join). Returns DataFrame(rank, segment, docid,
        <id cols>, parent, score) ordered (score desc, parent asc,
        segment asc, docid asc)."""
        m = self._run(parent_query, None, "complete")
        pcol = parent if not isinstance(parent, str) else F.col(parent)
        tagged = (self._live_docmap()
                  .select("segment", "docid", *self.index.id_cols)
                  .withColumn("parent", pcol))
        # parent score per parent value: the query's matches roll to ONE
        # row per parent (a parent group may hold several matching docs;
        # the child inherits the group's max, the ToParent Max roll-up)
        pscores = (m.join(tagged.select("segment", "docid", "parent"),
                          ["segment", "docid"])
                   .groupBy("parent")
                   .agg(F.max(F.col("score").cast("double"))
                        .cast("float").alias("score")))
        out = (tagged.join(F.broadcast(
            pscores.orderBy(F.desc("score"), "parent").limit(k)), "parent")
            .orderBy(F.desc("score"), "parent", "segment", "docid")
            .limit(k))
        return (_rank_limited(
                    out, [F.desc("score"), "parent", "segment", "docid"],
                    "docid")
                .select("rank", "segment", "docid", *self.index.id_cols,
                        "parent", "score"))

    def join_query(self, from_query, from_col: str,
                   to_col: str | None = None, score_mode: str = "max",
                   k: int = 10) -> DataFrame:
        """Query-time join — JoinUtil.createJoinQuery (solr-8.4.0/lucene/
        join/src/java/org/apache/lucene/search/join/JoinUtil.java:73-186):
        run `from_query`, collect the distinct values of the from-side
        join field with one aggregated score per value
        (TermsWithScoreCollector; ScoreMode None/Total/Max/Min/Avg), then
        match every doc whose to-side join field holds one of those
        values, scored by its value's aggregate
        (TermsIncludingScoreQuery). Join fields are stored docmap columns
        (the docvalues join model of the reference's numeric join path).

        Scale shape: the aggregated (value, score) frame is bounded by
        the from-query's match cardinality, never the corpus — it is
        broadcast, so the to-side (the 100 TB side) is scan-joined in
        place without a shuffle. Score roll-up accumulates in double and
        casts to float32 once, like to_parent_join. Returns
        (rank, segment, docid, join_value, score, id cols) ordered
        (score desc, segment asc, docid asc)."""
        aggs = {"total": F.sum, "max": F.max, "min": F.min, "avg": F.avg}
        if score_mode not in aggs and score_mode != "none":
            raise ValueError(f"unknown score_mode {score_mode!r}")
        to_col = to_col or from_col
        dm_cols = self.index.docmap().columns
        for c in (from_col, to_col):
            if c not in dm_cols:
                raise ValueError(f"join field {c!r} is not a stored "
                                 f"docmap column")
        m = self._run(from_query, None, "complete")
        dm = self.index.docmap()
        fv = (m.join(dm.select("segment", "docid",
                               F.col(from_col).alias("join_value")),
                     ["segment", "docid"]))
        if score_mode == "none":
            vals = (fv.select("join_value").distinct()
                    .withColumn("score", F.lit(1.0).cast("float")))
        else:
            vals = (fv.groupBy("join_value")
                    .agg(aggs[score_mode](F.col("score").cast("double"))
                         .cast("float").alias("score")))
        out = (self._live_docmap()
               .select("segment", "docid", *self.index.id_cols,
                       F.col(to_col).alias("join_value"))
               .join(F.broadcast(vals), "join_value")
               .orderBy(F.desc("score"), "segment", "docid").limit(k))
        return (_rank_limited(out, [F.desc("score"), "segment", "docid"],
                              "docid")
                .select("rank", "segment", "docid", "join_value", "score",
                        *self.index.id_cols))

    def function_score(self, query, value_col: str = "dl",
                       mode: str = "replace", k: int = 10) -> DataFrame:
        """FunctionScoreQuery (solr-8.4.0/lucene/queries/src/java/org/
        apache/lucene/queries/function/FunctionScoreQuery.java): the match
        set comes from the wrapped query; the score comes from a per-doc
        numeric DoubleValuesSource — here a stored docmap column (the
        DoubleValuesSource.fromLongField capability).
          mode="replace":  score = float32(value)            (constructor)
          mode="multiply": score = float32(query_score * value)
                           (FunctionScoreQuery.boostByValue:86-106)
        The docvalues lookup is a (segment, docid) equi-join against the
        columnar docmap — value columns are pruned to the one requested.
        Returns (rank, segment, docid, score, id cols)."""
        if mode not in ("replace", "multiply"):
            raise ValueError(f"unknown mode {mode!r}")
        m = self.matches(query)
        dm = self.index.docmap().select("segment", "docid",
                                        *self.index.id_cols, value_col)
        j = m.join(dm, ["segment", "docid"])
        if mode == "replace":
            sc = F.col(value_col).cast("float")
        else:
            sc = (F.col("score").cast("double")
                  * F.col(value_col).cast("double")).cast("float")
        out = (j.withColumn("score", sc)
               .orderBy(F.desc("score"), "segment", "docid").limit(k))
        return (_rank_limited(out, [F.desc("score"), "segment", "docid"],
                              "docid")
                .select("rank", "segment", "docid", "score",
                        *self.index.id_cols))

    def high_freq_terms(self, n: int = 10, by: str = "doc_freq",
                        field: str | None = None) -> DataFrame:
        """The HighFreqTerms diagnostic tool (solr-8.4.0/lucene/misc/src/
        java/org/apache/lucene/misc/HighFreqTerms.java): top-n terms of a
        field by docFreq or totalTermFreq, ties term asc. Like the
        reference, stats include tombstoned docs until compaction.

        Scale shape: the terms table is already a global (field, term,
        df, ttf) aggregate — this is a TakeOrderedAndProject over it,
        no recount of the corpus."""
        if by not in ("doc_freq", "total_term_freq"):
            raise ValueError(f"unknown ranking {by!r}")
        t = self.index.terms()
        t = t.where(F.col("field").isNull() if field is None
                    else F.col("field") == field)
        order = [F.desc(by), "term"]
        top = t.orderBy(*order).limit(n)
        return (_rank_limited(top, order, "term")
                .select("rank", "term", "doc_freq", "total_term_freq")
                .orderBy("rank"))

    def expression_score(self, query, expression: str,
                         k: int = 10) -> DataFrame:
        """Expression-valued scoring — the Lucene expressions module
        (solr-8.4.0/lucene/expressions/src/java/org/apache/lucene/
        expressions/js/JavascriptCompiler.java bound through
        FunctionScoreQuery, e.g. ``"0.3*_score + sqrt(popularity)"``):
        the match set and ``_score`` come from the wrapped query, every
        other variable reads a stored docmap column (SimpleBindings →
        DoubleValuesSource.fromField), and the compiled expression runs
        as ONE plan-side SQL expression inside whole-stage codegen.

        Scale shape: identical to function_score — a (segment, docid)
        equi-join against the columnar docmap pruned to exactly the
        referenced columns, then TakeOrderedAndProject; the expression
        itself adds zero Python to the hot path. Returns
        (rank, segment, docid, score, id cols), f32 score, usual ties."""
        from .functions.expressions import compile_expression
        dm_cols = set(self.index.docmap().columns)
        ce = compile_expression(expression,
                                allowed_vars=dm_cols | {"_score"})
        dv_cols = sorted(ce.variables - {"_score"})
        m = self.matches(query)
        dm = self.index.docmap().select(
            "segment", "docid", *self.index.id_cols, *dv_cols)
        j = m.join(dm, ["segment", "docid"])
        sc = F.expr(ce.sql({"_score": "CAST(score AS DOUBLE)"})) \
              .cast("float")
        out = (j.withColumn("score", sc)
               .orderBy(F.desc("score"), "segment", "docid").limit(k))
        return (_rank_limited(out, [F.desc("score"), "segment", "docid"],
                              "docid")
                .select("rank", "segment", "docid", "score",
                        *self.index.id_cols))

    def sorted_topk(self, k: int = 10, ascending: bool = True) -> DataFrame:
        """Early-terminating sort-field top-k over an index built with
        sort_by=... — the index-time-sort capability of the reference
        (solr-8.4.0/.../index/IndexWriterConfig.java setIndexSort,
        Sorter.java; TopFieldCollector.java early termination when the
        query sort matches the index sort): docids were assigned in sort
        order, so each segment's top-k IS its first k docids — the scan
        reads k rows per segment (docid < k pushes down to the docmap
        parquet, whose files are written sorted by docid, so row-group
        min/max stats prune the rest) instead of every row.

        Rules mirroring the reference: a descending query does not match
        the ascending index sort and runs a full scan; an index with
        uncommitted tombstones also runs a full scan (early termination
        counts k docids, not k LIVE docs). Returns DataFrame(rank,
        <id cols>, <sort col>) ordered (sort asc|desc, segment, docid)."""
        col = self.index.manifest.get("index_sort")
        if col is None:
            raise ValueError("index was not built with sort_by=...")
        dm = self.index.docmap()
        dels = self.index.deletes()
        if dels is not None:
            dm = dm.join(dels, ["segment", "docid"], "left_anti")
        direction = F.col(col).asc() if ascending else F.col(col).desc()
        if ascending and dels is None:
            dm = dm.where(F.col("docid") < k)  # early termination
        order = [direction, F.col("segment").asc(), F.col("docid").asc()]
        out = dm.orderBy(*order).limit(k)
        return (_rank_limited(out, order, "docid")
                .select("rank", *self.index.id_cols, col))

    def sorted_by_docvalues(self, col: str, k: int = 10,
                            ascending: bool = True, missing=0,
                            docvalues: DataFrame | None = None
                            ) -> DataFrame:
        """Sort-field top-k over a per-doc numeric column WITHOUT an
        index-time sort — TopFieldCollector over NumericDocValues with
        Lucene 9's sort optimization and setMissingValue semantics
        (demos LuceneDemo9.2.0/NumericDocValuesTopNOptimization2.java,
        LuceneDemo9.6.0/TestEarlyTerminal.java,
        LuceneDemo9.0.0/facet/MissingValueTest.java; engine
        solr-8.4.0/.../search/comparators/NumericComparator.java
        competitive iterator).

        The skip logic re-expressed columnar (operators/sortopt.py):
        parquet row-group min/max/null stats — a driver-side footer
        read, no job — give a safe cutoff with >= k values guaranteed
        competitive; the scan then carries a pushed range filter so row
        groups wholly past the cutoff are pruned at the reader, the
        point-index intersect's exact effect. Pruning is disabled (same
        semantics, full sort) when liveness or values aren't visible to
        footer stats: tombstones, docvalues-update overlays, or an
        external `docvalues` side table.

        `missing` follows the reference: docs without the field sort as
        this value (numeric SortField default 0; setMissingValue to
        change); `missing=None` drops them. Ties (key, segment asc,
        docid asc). Returns (rank, segment, docid, <id cols>, <col>)."""
        from .operators import sortopt
        dels = self.index.deletes()
        cutoff = None
        if docvalues is None:
            if col not in self.index.docmap().columns:
                raise ValueError(f"{col!r} is not a stored docmap column")
            src = self.index.docmap()
            if dels is not None:
                src = src.join(dels, ["segment", "docid"], "left_anti")
            elif not self.index.manifest.get("dv_updates"):
                paths = [os.path.join(self.index.root, d, "kind=docmap")
                         for d in self.index.manifest["batches"]]
                cutoff = sortopt.prune_threshold(
                    sortopt.rowgroup_value_stats(paths, col), k, ascending)
        else:
            src = self._live_values(docvalues, [col])
        limited, order = sortopt.pruned_topk(
            src, col, k, ascending=ascending, missing=missing,
            cutoff=cutoff,
            tiebreak=(F.col("segment").asc(), F.col("docid").asc()))
        return (_rank_limited(limited, order, "docid")
                .select("rank", "segment", "docid", *self.index.id_cols,
                        col))

    def more_like_this(self, text: str, field: str | None = None,
                       min_term_freq: int = 2, min_doc_freq: int = 5,
                       max_query_terms: int = 25):
        """MoreLikeThis.like(Reader) — the queries/mlt module's behavior
        (solr-8.4.0/lucene/queries/.../mlt/MoreLikeThis.java defaults:
        minTermFreq=2, minDocFreq=5, maxQueryTerms=25): analyze the input
        text, keep terms with tf >= minTermFreq and global df >=
        minDocFreq, rank them by tf * (ln(docCount / (df + 1)) + 1) (the
        classic-idf interestingness score, createQueue), and build a
        SHOULD-of-TermQuery Boolean from the top maxQueryTerms (ties:
        term asc — a deterministic stand-in for the reference's queue
        insertion order). Returns the Query; run it through search()."""
        import math
        from collections import Counter
        from .functions.analysis import tokenize_to_flat
        _, _, toks, _ = tokenize_to_flat(pd.Series([text]),
                                         self.index.analyzer)
        tf = Counter(toks.tolist())
        cand = sorted(t for t, c in tf.items() if c >= min_term_freq)
        if not cand:
            return Q.MatchNoDocsQuery()
        keys = [term_key(field, t) for t in cand]
        stats = self._global_stats(set(keys))
        n = stats.doc_count_for(field)
        scored = []
        for t, kk in zip(cand, keys):
            df = stats.doc_freqs.get(kk, 0)
            if df < min_doc_freq:
                continue
            idf = math.log(n / (df + 1.0)) + 1.0
            scored.append((-tf[t] * idf, t))
        scored.sort()
        top = [t for _, t in scored[:max_query_terms]]
        if not top:
            return Q.MatchNoDocsQuery()
        return Q.BooleanQuery([(Q.Occur.SHOULD, Q.TermQuery(t, field=field))
                               for t in top])

    def suggest(self, prefix: str, k: int = 10,
                field: str | None = None) -> DataFrame:
        """Prefix suggester over the term dictionary, weighted by document
        frequency — the Lucene suggest module's TermFreq model
        (lucene/suggest FreqV2 suggesters consume (term, weight=docFreq)
        iterators built from the index terms). Returns
        DataFrame(rank, term, weight) ordered (weight desc, term asc);
        the sorted terms parquet prunes the prefix scan (FST-walk role)."""
        t = self._field_terms(field)
        t = (t.where(F.col("term").startswith(prefix))
             .select("term", F.col("doc_freq").alias("weight"))
             .orderBy(F.desc("weight"), "term").limit(k))
        return (_rank_limited(t, [F.desc("weight"), "term"], "term")
                .select("rank", "term", "weight"))

    def suggest_fuzzy(self, prefix: str, k: int = 10,
                      field: str | None = None, max_edits: int = 1,
                      non_fuzzy_prefix: int = 1,
                      min_fuzzy_length: int = 3,
                      transpositions: bool = True) -> DataFrame:
        """FuzzySuggester — typo-tolerant prefix completion
        (solr-8.4.0/lucene/suggest/src/java/org/apache/lucene/search/
        suggest/analyzing/FuzzySuggester.java, defaults kept:
        DEFAULT_MAX_EDITS=1, DEFAULT_TRANSPOSITIONS=true,
        DEFAULT_NON_FUZZY_PREFIX=1, DEFAULT_MIN_FUZZY_LENGTH=3).

        The reference intersects the completion FST with a Levenshtein
        automaton of the input: a term completes if SOME prefix of it is
        within max_edits of the input. Re-expression: a dictionary term
        qualifies when min over j in [L-d, L+d] of
        levenshtein(term[:j], input) <= d (a prefix within distance d
        must have length within d of L), OR — the transposition moves,
        which plain Levenshtein counts as 2 — the term starts with the
        input with one adjacent pair swapped (enumerated at planning
        time: d=1 allows exactly one swap and no other edit). The first
        non_fuzzy_prefix chars must match exactly (a pushed
        StringStartsWith on the sorted dictionary — the automaton's
        exact-prefix arc); inputs shorter than min_fuzzy_length fall
        back to exact-prefix suggest. Returns
        DataFrame(rank, term, weight) ordered (weight desc, term asc).
        """
        if len(prefix) < min_fuzzy_length or max_edits == 0:
            return self.suggest(prefix, k, field)
        t = self._field_terms(field)
        first = prefix[:non_fuzzy_prefix]
        t = t.where(F.col("term").startswith(first))
        L = len(prefix)
        cond = None
        for j in range(max(1, L - max_edits), L + max_edits + 1):
            c = (F.levenshtein(F.substring("term", 1, j),
                               F.lit(prefix)) <= max_edits)
            cond = c if cond is None else cond | c
        if transpositions and max_edits >= 1:
            for i in range(non_fuzzy_prefix, L - 1):
                if prefix[i] == prefix[i + 1]:
                    continue
                sw = (prefix[:i] + prefix[i + 1] + prefix[i]
                      + prefix[i + 2:])
                cond = cond | F.col("term").startswith(sw)
        t = (t.where(cond)
             .select("term", F.col("doc_freq").alias("weight"))
             .orderBy(F.desc("weight"), "term").limit(k))
        return (_rank_limited(t, [F.desc("weight"), "term"], "term")
                .select("rank", "term", "weight"))

    def suggest_infix(self, fragment: str, k: int = 10,
                      field: str | None = None) -> DataFrame:
        """Infix suggester — the AnalyzingInfixSuggester capability
        (solr-8.4.0/lucene/suggest/.../analyzing/AnalyzingInfixSuggester
        .java: suggestions may match ANYWHERE in the surface form, not
        just the prefix). Dictionary terms containing `fragment`,
        weighted by doc_freq; prefix matches rank before pure-infix
        matches at equal weight (the suggester's exact-first bias).
        Returns DataFrame(rank, term, weight)."""
        t = self._field_terms(field)
        t = (t.where(F.col("term").contains(fragment))
             .select("term", F.col("doc_freq").alias("weight"),
                     F.col("term").startswith(fragment).cast("int")
                     .alias("is_prefix")))
        order = [F.desc("weight"), F.desc("is_prefix"), F.col("term")]
        t = t.orderBy(*order).limit(k)
        return (_rank_limited(t, order, "term")
                .select("rank", "term", "weight"))

    def word_breaks(self, term: str, num_sug: int = 5,
                    min_part_len: int = 2,
                    field: str | None = None) -> list[dict]:
        """WordBreakSpellChecker.suggestWordBreaks analogue
        (solr-8.4.0/lucene/suggest/src/java/org/apache/lucene/search/
        spell/WordBreakSpellChecker.java: an out-of-dictionary compound
        splits into dictionary words). Single break point (maxChanges=1):
        every split (left, right) with both parts indexed and at least
        min_part_len chars qualifies; results order by the LESS frequent
        part's doc_freq descending (the weakest-link selectivity the
        reference's frequency comparator expresses), ties by left part
        asc. The dictionary probes are driver-side pyarrow seeks
        (term_stats_lookup) — no Spark job. Returns
        [{"left", "right", "df_left", "df_right"}]."""
        if field is not None and field == self._default_field:
            field = None
        cands = []
        for i in range(min_part_len, len(term) - min_part_len + 1):
            cands.append((term[:i], term[i:]))
        if not cands:
            return []
        keys = {term_key(field, p) for lr in cands for p in lr}
        stats = self._global_stats(keys)
        out = []
        for left, right in cands:
            dfl = stats.doc_freqs.get(term_key(field, left), 0)
            dfr = stats.doc_freqs.get(term_key(field, right), 0)
            if dfl > 0 and dfr > 0:
                out.append({"left": left, "right": right,
                            "df_left": dfl, "df_right": dfr})
        out.sort(key=lambda s: (-min(s["df_left"], s["df_right"]),
                                s["left"]))
        return out[:num_sug]

    def combine_words(self, terms: list, num_sug: int = 5,
                      field: str | None = None) -> list[dict]:
        """WordBreakSpellChecker.suggestWordCombinations analogue: adjacent
        query terms whose CONCATENATION is itself a dictionary word (the
        user typed "data base" for "database"). Returns
        [{"index", "combined", "doc_freq"}] ordered (doc_freq desc,
        index asc); index = position of the pair's first term."""
        if field is not None and field == self._default_field:
            field = None
        pairs = [(i, terms[i] + terms[i + 1])
                 for i in range(len(terms) - 1)]
        if not pairs:
            return []
        stats = self._global_stats({term_key(field, c) for _, c in pairs})
        out = [{"index": i, "combined": c,
                "doc_freq": stats.doc_freqs.get(term_key(field, c), 0)}
               for i, c in pairs
               if stats.doc_freqs.get(term_key(field, c), 0) > 0]
        out.sort(key=lambda s: (-s["doc_freq"], s["index"]))
        return out[:num_sug]

    def did_you_mean(self, text: str,
                     field: str | None = None) -> str | None:
        """Spell collation — the Solr-style spellcheck.collate discipline
        over this engine's three spell facilities: analyze `text` with
        the index's own chain, then for each out-of-dictionary token try
        (1) DirectSpellChecker corrections (spell_correct), then
        (2) a word break into dictionary parts (word_breaks); adjacent
        in-dictionary tokens whose concatenation is a more frequent
        dictionary word combine (combine_words). Returns the corrected
        query string, or None when nothing changed."""
        terms = self.analyze(text, field=field)
        if not terms:
            return None
        stats = self._global_stats({term_key(field, t) for t in terms})
        out, changed = [], False
        for t in terms:
            if stats.doc_freqs.get(term_key(field, t), 0) > 0:
                out.append(t)
                continue
            sugg = self.spell_correct(t, num_sug=1, field=field)
            if sugg:
                out.append(sugg[0]["term"])
                changed = True
                continue
            brk = self.word_breaks(t, num_sug=1, field=field)
            if brk:
                out.extend([brk[0]["left"], brk[0]["right"]])
                changed = True
                continue
            out.append(t)
        # combine pass: merge an adjacent pair when the compound's df
        # exceeds BOTH parts' (the reference's combine-words acceptance)
        comb = {c["index"]: c for c in self.combine_words(out, field=field)}
        merged, i = [], 0
        while i < len(out):
            c = comb.get(i)
            if c is not None and i + 1 < len(out):
                dfl = self._global_stats(
                    {term_key(field, out[i])}).doc_freqs.get(
                        term_key(field, out[i]), 0)
                dfr = self._global_stats(
                    {term_key(field, out[i + 1])}).doc_freqs.get(
                        term_key(field, out[i + 1]), 0)
                if c["doc_freq"] > max(dfl, dfr):
                    merged.append(c["combined"])
                    changed = True
                    i += 2
                    continue
            merged.append(out[i])
            i += 1
        return " ".join(merged) if changed else None

    def spell_correct(self, term: str, num_sug: int = 5,
                      max_edits: int = 2, min_prefix: int = 1,
                      accuracy: float = 0.5,
                      mode: str = "not_in_index",
                      field: str | None = None) -> list[dict]:
        """DirectSpellChecker.suggestSimilar (solr-8.4.0/lucene/suggest/
        src/java/org/apache/lucene/search/spell/DirectSpellChecker.java:
        317-384): spelling corrections drawn from the index's own term
        dictionary. Candidates share the first max(minPrefix, maxEdits-1)
        characters and lie within maxEdits OSA (transposition-counting)
        edits — the FuzzyTermsEnum enumeration; each scores
        1 - d / min(len(term), len(candidate)) (the internal Levenshtein
        distance score) and must clear `accuracy`. mode="not_in_index"
        (SUGGEST_WHEN_NOT_IN_INDEX, the default) returns [] when the term
        itself is indexed; "always" suggests regardless. Results are
        ordered (score desc, doc_freq desc, term asc) — the
        SuggestWordQueue default comparator. Returns
        [{"term", "score", "doc_freq"}].

        The candidate walk is the sub-linear deletion-variant seek
        (operators/fuzzy.py — the FuzzyTermsEnum FST-intersection role):
        candidates and their doc_freqs come from driver pyarrow lookups,
        so a spell correction schedules NO Spark job at all; the pruned
        distributed scan (prefix startswith + length window + JVM
        levenshtein pre-filter) survives as the fallback for maxEdits
        beyond the seek depth."""
        if field is not None and field == self._default_field:
            field = None
        key = term_key(field, term)
        stats = self._global_stats({key})
        if mode == "not_in_index" and stats.doc_freqs.get(key, 0) > 0:
            return []
        prefix = term[:max(min_prefix, max_edits - 1)]
        cands = self._fuzzy_seek_terms(term, max_edits, field=field,
                                       transpositions=True, prefix=prefix)
        if cands is not None:
            pairs = []
            keys = [term_key(field, cnd) for cnd in cands if cnd != term]
            if keys:
                got = self.index.term_stats_lookup(keys)
                pairs = [(key_term(kk), got[kk][0])
                         for kk in keys if kk in got]
        else:  # fallback: pruned distributed dictionary scan
            t = self._field_terms(field)
            c = F.col("term")
            if prefix:
                t = t.where(c.startswith(prefix))
            t = t.where((F.length(c) >= len(term) - max_edits)
                        & (F.length(c) <= len(term) + max_edits)
                        & (c != term)
                        & (F.levenshtein(c, F.lit(term)) <= 2 * max_edits))
            rows = t.select("term", "doc_freq").collect()
            pairs = [(r.term, r.doc_freq) for r in rows
                     if _osa_distance(r.term, term) <= max_edits]
        out = []
        for cand, df_ in pairs:
            d = _osa_distance(cand, term)
            if d > max_edits:
                continue
            score = 1.0 - d / min(len(term), len(cand))
            if score < accuracy:
                continue
            out.append({"term": cand, "score": float(np.float32(score)),
                        "doc_freq": int(df_)})
        out.sort(key=lambda s: (-s["score"], -s["doc_freq"], s["term"]))
        return out[:num_sug]

    def search_many(self, queries: dict, k: int = 10) -> DataFrame:
        """Batched top-k for MANY queries in ONE Spark job — the query-
        throughput path: per-query driver/scheduling overhead is amortized
        across the batch (a capability the reference gets from running
        inside one JVM; we get it by fusing kernels). Returns
        DataFrame(qid, rank, segment, docid, score).

        queries: {qid: Query}. Each query is rewritten and classified
        independently; block-max is used where eligible."""
        res = self._topk_frame(
            {qid: self.rewrite(q) for qid, q in queries.items()}, k)
        w = Window.partitionBy("qid").orderBy(F.desc("score"), "segment",
                                              "docid")
        return (res.withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= k)
                .select("qid", "rank", "segment", "docid", "score"))

    def explain(self, query, segment: int, docid: int) -> list[dict]:
        """Score explanation for one doc — the Weight.explain / Explanation
        analogue (solr-8.4.0/.../search/similarities/BM25Similarity.java
        explainTF/explainConstantFactors): per scoring term, its tf, df,
        idf, norm-decoded dl, weight, and float32 contribution."""
        query = self.rewrite(query)
        keys = sorted(Q.scoring_terms(query),
                      key=lambda k: (key_field(k) or "", key_term(k)))
        stats = self._global_stats(set(keys))
        # per-leaf effective boosts: a boosted clause's contribution is
        # weight = F32(F32(boost) * idf), so the reported rows sum to the
        # actual hit score for boosted queries too
        leaves = _scoring_leaves(query) or [(t, 1.0) for t in keys]
        rows = (self._post_src
                .where(self._key_filter(set(keys))
                       & (F.col("segment") == segment))
                .toPandas())
        sn_pdf = (self.index.segnorms().where(F.col("segment") == segment)
                  .toPandas())
        if not len(sn_pdf):
            return []
        norms, max_doc, fnorms = parse_segnorms(sn_pdf)
        reader = SparkSegmentReader(rows, norms, max_doc, field_norms=fnorms)
        from .functions.smallfloat import byte4_to_int
        if isinstance(query, (Q.SpanNearQuery, Q.SpanOrQuery,
                              Q.SpanFirstQuery, Q.IntervalQuery)):
            # span/interval explain: the score is sloppyFreq run through
            # the summed-idf SpanWeight — report the enumerated freq, the
            # per-term idf inputs, and the float32-reconstructed score
            # (SpanScorer.scoreCurrentDoc / SpanWeight.explain shape)
            if isinstance(query, Q.IntervalQuery):
                from .operators.intervals import interval_match
                docids, sfreqs = interval_match(reader, query)
                span_terms = tuple(sorted(
                    Q.interval_terms(query.source)))
                kind = "intervals"
            elif isinstance(query, Q.SpanOrQuery):
                docids, sfreqs = ex._span_or_freqs(reader, query)
                span_terms, kind = query.terms, "span_or"
            elif isinstance(query, Q.SpanFirstQuery):
                docids, sfreqs = ex._span_first_freqs(reader, query)
                span_terms, kind = (query.term,), "span_first"
            elif query.in_order:
                docids, sfreqs = ex._span_near_freqs(reader, query)
                span_terms, kind = query.terms, "span_near"
            else:
                docids, sfreqs = ex._span_near_unordered_freqs(
                    reader, query, needs_freq=True)
                span_terms, kind = query.terms, "span_near_unordered"
            i = np.searchsorted(docids, docid)
            if i >= len(docids) or docids[i] != docid:
                return []
            w = bm25.F32(bm25.F32(1.0) * bm25.F32(query.boost))
            score = float(ex._span_scores(
                reader, stats, span_terms, query.field,
                docids[i:i + 1], sfreqs[i:i + 1], w)[0])
            out = [{"kind": kind, "sloppy_freq": float(sfreqs[i]),
                    "boost": float(query.boost), "score": score}]
            for t in dict.fromkeys(span_terms):
                kk = term_key(query.field, t)
                if stats.doc_freqs.get(kk, 0) > 0:
                    out.append({
                        "term": t, "field": query.field,
                        "doc_freq": stats.doc_freqs[kk],
                        "idf": float(stats.idf(kk))})
            return out
        out = []
        for t, boost in leaves:
            p = reader.postings(t)
            if p is None:
                continue
            d, f = p
            i = np.searchsorted(d, docid)
            if i >= len(d) or d[i] != docid:
                continue
            fld = key_field(t)
            fld_norms = norms if fld is None else fnorms[fld]
            contrib = stats.pseudo_score(
                stats.doc_freqs.get(t, 0),
                stats.total_term_freqs.get(t, 0), bm25.F32(boost),
                f[i:i + 1], fld_norms[docid:docid + 1], field=fld)[0]
            out.append({
                "term": key_term(t), "field": fld, "tf": int(f[i]),
                "boost": float(boost),
                "doc_freq": stats.doc_freqs.get(t, 0),
                "idf": float(stats.idf(t)),
                "dl_quantized": int(byte4_to_int(
                    np.array([fld_norms[docid]]))[0]),
                "avgdl": float(bm25.avgdl(
                    stats.sum_ttf_for(fld),
                    max(stats.doc_count_for(fld), 1))),
                "score": float(contrib),
            })
        return out

    def rescore(self, first_pass: DataFrame, query2, weight: float = 1.0,
                k: int = 10, max_docs: int = 10_000) -> DataFrame:
        """QueryRescorer analogue (solr-8.4.0/.../search/QueryRescorer.java):
        combined = first_pass_score + weight * second_query_score over only
        the first-pass docs (docs not matching query2 keep their score).

        first_pass is expected to be a top-N result; max_docs bounds the
        driver-side collect (QueryRescorer rescores topN hits, never a full
        match set — pass a larger max_docs deliberately if needed)."""
        rows = (first_pass.select("segment", "docid", "score")
                .limit(max_docs + 1).collect())
        if len(rows) > max_docs:
            raise ValueError(
                f"rescore() input exceeds max_docs={max_docs}; rescoring is "
                "a top-N operation — limit the first pass or raise max_docs")
        wanted: dict = {}
        for r in rows:
            wanted.setdefault(int(r.segment), {})[int(r.docid)] = \
                np.float32(r.score)
        query2 = self.rewrite(query2)
        terms = Q.scoring_terms(query2) | _filter_terms(query2)
        stats = self._global_stats(terms)
        w32 = np.float32(weight)
        if all(stats.doc_freqs.get(t, 0) == 0 for t in terms) \
                and not _contains_matchall(query2):
            # second query matches nothing: combined == first-pass scores
            res0 = (first_pass.select("segment", "docid", "score")
                    .orderBy(F.desc("score"), "segment", "docid").limit(k))
            return _rank_limited(
                res0, [F.desc("score"), "segment", "docid"], "docid")

        def kernel(key, post_pdf, sn_pdf):
            seg = int(key[0])
            seg_docs = wanted.get(seg, {})
            if not seg_docs or len(sn_pdf) == 0:
                return pd.DataFrame({"segment": [], "docid": [], "score": []})
            norms, max_doc, fnorms = parse_segnorms(sn_pdf)
            reader = SparkSegmentReader(post_pdf, norms, max_doc,
                                        field_norms=fnorms)
            m = ex.evaluate(reader, stats, query2)
            d = np.array(sorted(seg_docs), dtype=np.int64)
            base = np.array([seg_docs[x] for x in sorted(seg_docs)],
                            dtype=np.float32)
            pos = np.searchsorted(m.docids, d)
            ok = pos < len(m.docids)
            ok[ok] = m.docids[pos[ok]] == d[ok]
            add = np.zeros(len(d), dtype=np.float32)
            add[ok] = m.scores[pos[ok]]
            comb = (base.astype(np.float64)
                    + (w32 * add).astype(np.float64)).astype(np.float32)
            return pd.DataFrame({
                "segment": np.full(len(d), seg, dtype=np.int32),
                "docid": d, "score": comb})

        post = self._posting_frame(terms, ("pos_offsets", "pos_data")
                                   if _needs_positions(query2) else ())
        res = (self._cogroup(post)
               .applyInPandas(kernel,
                              schema="segment int, docid long, score float"))
        # coverage rule: first-pass docs in segments that hold NONE of
        # query2's terms must still come back — with their base score
        # (query2 contributes 0 there) or with query2's MatchAll
        # contribution. The postings-driven cogroup above cannot cover
        # those segments, so ALWAYS union a norms-only kernel over the
        # complement ("docs not matching query2 keep their score",
        # QueryRescorer.java combine()).

        def kernel_sn(key, sn_pdf):
            return kernel(key, pd.DataFrame({"term": []}), sn_pdf)
        rest = self.index.segnorms().join(post.select("segment").distinct(),
                                          "segment", "left_anti")
        res = res.unionByName(
            rest.groupBy("segment").applyInPandas(
                kernel_sn, schema="segment int, docid long,"
                                  " score float"))
        res = res.orderBy(F.desc("score"), "segment", "docid").limit(k)
        return _rank_limited(res, [F.desc("score"), "segment", "docid"],
                             "docid")


def _scoring_leaves(q, boost: float = 1.0) -> list:
    """[(term, effective_boost)] for sum-combining scoring leaves (term
    clauses under Boolean MUST/SHOULD and Boost wrappers). Returns [] for
    shapes whose scores don't sum per-term (dismax, phrase, synonym) — the
    caller falls back to unboosted per-term reporting for those."""
    if isinstance(q, Q.TermQuery):
        return [(term_key(q.field, q.term), boost * q.boost)]
    if isinstance(q, Q.BoostQuery):
        return _scoring_leaves(q.query, boost * q.boost)
    if isinstance(q, Q.BooleanQuery):
        out = []
        for c in q.clauses:
            if c.occur in (Q.Occur.MUST, Q.Occur.SHOULD):
                sub = _scoring_leaves(c.query, boost)
                if not sub and Q.scoring_terms(c.query):
                    return []  # non-summing scoring clause: fall back whole
                out += sub
        return out
    return []


def _no_hits() -> pd.DataFrame:
    return pd.DataFrame({"qid": [], "segment": [], "docid": [], "score": []})


def _split_sn_deletes(sn_pdf: pd.DataFrame):
    """Split an augmented norms cogroup side (see _segnorms_with_deletes)
    back into (segnorm rows, sorted deleted-docid array | None). Frames
    without the del_docid column pass through untouched."""
    if "del_docid" not in sn_pdf.columns:
        return sn_pdf, None
    mask = sn_pdf["del_docid"].isna()
    dele = np.unique(
        sn_pdf.loc[~mask, "del_docid"].to_numpy(dtype=np.int64))
    return sn_pdf[mask], (dele if len(dele) else None)


def _contains_matchall(q) -> bool:
    if isinstance(q, Q.MatchAllDocsQuery):
        return True
    if isinstance(q, (Q.BoostQuery, Q.ConstantScoreQuery)):
        return _contains_matchall(q.query)
    if isinstance(q, Q.DisjunctionMaxQuery):
        return any(_contains_matchall(s) for s in q.queries)
    if isinstance(q, Q.BooleanQuery):
        return any(_contains_matchall(c.query) for c in q.clauses)
    return False


def _needs_positions(q) -> bool:
    if isinstance(q, (Q.PhraseQuery, Q.MultiPhraseQuery, Q.SpanNearQuery,
                      Q.SpanFirstQuery, Q.IntervalQuery)):
        return True
    if isinstance(q, (Q.BoostQuery, Q.ConstantScoreQuery)):
        return _needs_positions(q.query)
    if isinstance(q, Q.DisjunctionMaxQuery):
        return any(_needs_positions(s) for s in q.queries)
    if isinstance(q, Q.BooleanQuery):
        return any(_needs_positions(c.query) for c in q.clauses)
    return False


def _filter_terms(q) -> set:
    """Terms referenced by FILTER/MUST_NOT clauses (needed by kernels but
    not 'scoring' terms)."""
    out = set()
    if isinstance(q, Q.BooleanQuery):
        for c in q.clauses:
            out |= Q.scoring_terms(c.query) | _filter_terms(c.query)
    return out
