"""Distributed BPE (byte-pair encoding) vocabulary learning and
tokenization — the learned-subword extension of the fixed-regex
pretokenizer surface (operators/text.py ``token_counts``; the reference
engine itself never learns a vocabulary, so this module is part of the
training-data-pipeline family, not reference parity).

Algorithm: Sennrich, Haddow & Birch, "Neural Machine Translation of
Rare Words with Subword Units" (ACL 2016) — public knowledge. Words are
split to character symbols; each merge step finds the most frequent
adjacent symbol pair in the (count-weighted) word histogram and fuses
every occurrence; tokenizing applies the learned merges in rank order.

Scale posture (the part that matters at 100 TB):

- The corpus-sized work is ONE aggregate: the word histogram (pretoken
  explode → map-side-combined count, a single shuffle on ``word``).
- Every learning iteration after that runs on the V-row histogram —
  Heaps-bounded (V ~ n^0.5 on real text; the zipf fixture's growth is
  pinned in tests/test_zipf_fixture.py), NOT corpus-bounded
  — and collects exactly ONE row per iteration (the argmax pair), the
  same bounded-collect class as the k-means centroid loop.
- Tokenization applies the k learned merges as a chain of k Catalyst
  ``aggregate`` (ArrayAggregate) folds inside a ``transform`` over the
  word array: pure JVM expressions, zero Python in the row path, zero
  shuffles (plan-pinned in tests/test_bpe.py).

Application convention: ONE left-to-right pass per merge, in rank
order — the convention this module pins by test, on BOTH sides of the
oracle (the DuckDB twin replays the same folds, so cross-engine hash
parity holds by construction). This usually coincides with the
reference algorithm's repeated min-rank rescan — a rule's operand
symbols predate the rule, and fusions can't recreate a short operand —
but it is NOT a theorem: a LATER merge's output STRING can coincide
with an EARLIER merge's operand through a different derivation (e.g.
'abc' reachable via (ab,c) and via (a,bc)), recreating an adjacency
the single-pass applier never revisits (ADVICE r8; divergence
demonstrated concretely in tests/test_bpe.py::
test_rank_order_pass_vs_min_rank_rescan_boundary). On fixture-learned
merge lists the two conventions agree (hypothesis-checked in the same
test file); treat the single-pass convention as the contract, not an
equivalence claim.

Determinism contract: pair argmax ties break lexically on (a, b)
ascending; counts are exact longs; the merge list for a given corpus is
therefore engine-independent, which is what lets q124's DuckDB oracle
replay the same merges (generated SQL, ``bpe_sql_tokens``) and
hash-match token-for-token.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# Shared cross-engine pre-tokenizer: lowercase, split on runs of
# non-alphanumerics, drop empties. Restricted to [a-z0-9] symbols so
# merge literals never need SQL escaping.
WORD_SPLIT_RE = "[^a-z0-9]+"


def words_expr(text_col: Column) -> Column:
    """Non-empty lowercase words of a text column (array<string>)."""
    return F.filter(
        F.split(F.lower(text_col), WORD_SPLIT_RE),
        lambda w: F.length(w) > 0,
    )


def word_histogram(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The single corpus-sized pass: (word, cnt) histogram.

    One explode + one map-side-combined count; everything downstream of
    this frame is V-bounded.
    """
    return (
        docs.select(F.explode(words_expr(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def merge_fold(syms: Column, a: str, b: str) -> Column:
    """One greedy left-to-right pass fusing every (a, b) adjacency.

    A Catalyst ``aggregate`` fold: append each symbol unless the
    accumulator's tail is ``a`` and the symbol is ``b``, in which case
    the tail becomes ``a || b``. Overlaps resolve left-first ("aaa"
    under (a,a) → [aa, a]), matching the reference implementation's
    non-overlapping left-to-right scan.
    """
    ab = a + b
    return F.aggregate(
        syms,
        F.expr("CAST(array() AS array<string>)"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(F.lit(ab))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def segment_expr(word: Column, merges: list[tuple[str, str]]) -> Column:
    """Segment one word: chars → the k merge folds in rank order."""
    e = F.split(word, "")
    for a, b in merges:
        e = merge_fold(e, a, b)
    return e


def _spark_sql_segment(chars_sql: str, merges: list[tuple[str, str]]) -> str:
    """Spark-SQL text of the k merge folds over ``chars_sql`` — the
    same Catalyst ``aggregate`` tree ``segment_expr`` builds, emitted
    as ONE expression string. Lambda variables are uniqued per nesting
    level, mirroring ``_sql_segment`` (the DuckDB twin)."""
    e = chars_sql
    for i, (a, b) in enumerate(merges):
        acc, x = f"a{i}", f"x{i}"
        e = (
            f"aggregate({e}, CAST(array() AS array<string>), "
            f"({acc}, {x}) -> CASE WHEN size({acc}) > 0 "
            f"AND element_at({acc}, -1) = '{a}' AND {x} = '{b}' "
            f"THEN concat(slice({acc}, 1, size({acc}) - 1), "
            f"array('{a}{b}')) "
            f"ELSE concat({acc}, array({x})) END)"
        )
    return e


def tokens_sql(text_sql: str, merges: list[tuple[str, str]]) -> str:
    """Spark-SQL expression text for the full BPE token stream of the
    column/expression ``text_sql``: words → per-word merge folds →
    flatten. Parsed by Catalyst in ONE round-trip where the
    Column-lambda form pays ~k py4j constructions (measured: ~2-3 s of
    pure driver-side expression BUILD at k=32 on this gateway, before
    any row is read — r12 verdict task #3). The resolved plan is
    byte-identical to ``tokens_expr`` on a Column (parity-pinned in
    tests/test_bpe.py)."""
    words = (
        f"filter(split(lower({text_sql}), '{WORD_SPLIT_RE}'), "
        f"w0 -> length(w0) > 0)"
    )
    seg = _spark_sql_segment("split(w, '')", merges)
    return f"flatten(transform({words}, w -> {seg}))"


def tokens_expr(
    text_col: Column | str, merges: list[tuple[str, str]]
) -> Column:
    """BPE token stream of a text column (array<string>); zero shuffle.

    Pass the column NAME (str) for the fast path — the whole fold tree
    parses in one ``expr()`` call. A Column argument keeps the original
    lambda construction (k py4j round-trips; same resolved plan)."""
    if isinstance(text_col, str):
        return F.expr(tokens_sql(text_col, merges))
    return F.flatten(
        F.transform(words_expr(text_col), lambda w: segment_expr(w, merges))
    )


def bpe_learn(
    hist: DataFrame, num_merges: int = 12, min_count: int = 2
) -> list[tuple[str, str]]:
    """Learn ``num_merges`` merge rules from a (word, cnt) histogram.

    Each iteration: count adjacent symbol pairs weighted by word count
    (V-bounded shuffle), collect the single argmax row (count desc,
    then (a, b) lexically — the determinism contract), and fuse the
    pair across the histogram. Stops early when the best pair's count
    falls below ``min_count``.

    The per-iteration frame is ``localCheckpoint``ed, not persisted:
    persist() caches DATA but keeps the LOGICAL plan, so iteration i's
    analysis still walks i nested fold lambdas — measured superlinear
    (5.8 s at 10 merges → 44.7 s at 15 on the sf0.01 fixture, round 8).
    localCheckpoint truncates the lineage, making per-iteration planning
    O(1); the remaining ~2 job round-trips per merge are the floor of
    the distributed loop — ``bpe_learn_local`` below removes those too
    and is the production trainer for real (30k+) vocabulary sizes.
    """
    cur = hist.select(
        F.split("word", "").alias("syms"), "cnt"
    ).localCheckpoint()
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        top = (
            cur.select(
                F.explode(
                    F.zip_with(
                        F.slice("syms", 1, F.size("syms") - 1),
                        F.slice("syms", 2, F.size("syms") - 1),
                        lambda a, b: F.struct(
                            a.alias("a"), b.alias("b")
                        ),
                    )
                ).alias("p"),
                "cnt",
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["n"] < min_count:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))
        cur = cur.select(
            merge_fold(F.col("syms"), a, b).alias("syms"), "cnt"
        ).localCheckpoint()
    return merges


def bpe_learn_local(
    hist: DataFrame | list, num_merges: int = 12, min_count: int = 2
) -> list[tuple[str, str]]:
    """Queue-based exact BPE trainer over the collected word histogram —
    the fast-BPE technique (incremental pair-count maintenance with a
    lazy-deletion heap; public: Sennrich's learn_bpe.py and every
    production trainer work this way) that removes ``bpe_learn``'s
    2-Spark-jobs-per-merge round-trip constant.

    EXACTLY the same merge list as ``bpe_learn`` (same argmax, same
    (count desc, (a, b) lexical asc) tie-break, same min_count stop,
    same left-to-right overlap convention) — pinned by
    tests/test_bpe.py::test_local_trainer_matches_distributed. The
    amortized cost per merge is microseconds (only words containing
    the fused pair are touched), vs ~2 job round-trips in the
    distributed loop — the difference between 12 merges and a 30k-merge
    production vocabulary (measured ladder: scripts/bpe_ladder.py,
    PERF.md round 8).

    Scale posture: this does NOT abandon the cluster — the corpus-sized
    pass is still the distributed ``word_histogram`` (one shuffle); only
    the V-bounded iteration moves driver-side, exactly like the k-means
    centroid loop and every real-world subword trainer (the histogram
    is Heaps-bounded: ~n^0.5 rows; at 100 TB of text, V ≈ tens of
    millions of (word, cnt) rows ≈ low GBs — driver-sized, and 30k
    merges over it are minutes, not the cluster's problem). Accepts the
    histogram DataFrame (collected here) or pre-collected (word, cnt)
    rows.

    Web-scale caveat (r9 verdict): V is Heaps-bounded on PROSE, but a
    web corpus's pretoken long tail (URLs, numbers, typos, unicode
    junk) carries 10⁸+ singletons — the collect itself can be tens of
    driver GBs before training starts. ``bpe_learn_capped`` below is
    the production posture: filter ``cnt >= hist_floor`` BEFORE the
    collect and certify (or measure) merge-list fidelity.
    """
    rows = hist if isinstance(hist, list) else [
        (r[0], r[1]) for r in hist.select("word", "cnt").collect()
    ]
    merges, _, _ = _heap_trainer(rows, num_merges, min_count)
    return merges


def _heap_trainer(
    rows: list,
    num_merges: int,
    min_count: int,
    track_margins: bool = False,
) -> tuple[list[tuple[str, str]], list[int], str]:
    """The shared exact heap trainer core.

    Returns ``(merges, margins, stop_reason)``. ``margins`` (only
    tracked when asked — the live-second-best peek costs extra stale
    pops) is the per-step argmax margin ``n(best) - n(second_best)``,
    one entry per executed merge; ``stop_reason`` is one of
    ``"num_merges" | "min_count" | "exhausted"`` — both feed the capped
    trainer's identity certificate.
    """
    import heapq
    from collections import defaultdict

    words: list[list[str]] = [list(w) for w, _ in rows]
    cnts: list[int] = [c for _, c in rows]

    pair_n: dict[tuple[str, str], int] = defaultdict(int)
    pair_words: dict[tuple[str, str], set[int]] = defaultdict(set)

    def add_word(i: int, sign: int) -> list[tuple[str, str]]:
        touched = []
        syms = words[i]
        for a, b in zip(syms, syms[1:]):
            p = (a, b)
            pair_n[p] += sign * cnts[i]
            if sign > 0:
                pair_words[p].add(i)
            touched.append(p)
        return touched

    heap: list[tuple[int, str, str]] = []
    for i in range(len(words)):
        add_word(i, +1)
    for (a, b), n in pair_n.items():
        heap.append((-n, a, b))
    heapq.heapify(heap)

    def fold(syms: list[str], a: str, b: str) -> list[str]:
        # identical convention to merge_fold: greedy left-to-right,
        # overlaps resolve left-first
        out: list[str] = []
        for s in syms:
            if out and out[-1] == a and s == b:
                out[-1] = a + b
            else:
                out.append(s)
        return out

    def pop_stale() -> None:
        # lazy-deletion: an entry is live iff it matches the current
        # count; (-n, a, b) ordering reproduces the distributed
        # (count desc, a asc, b asc) argmax exactly
        while heap:
            negn, a, b = heap[0]
            if pair_n.get((a, b), 0) == -negn and -negn > 0:
                return
            heapq.heappop(heap)

    merges: list[tuple[str, str]] = []
    margins: list[int] = []
    stop_reason = "num_merges"
    while len(merges) < num_merges:
        pop_stale()
        if not heap:
            stop_reason = "exhausted"
            break
        negn, a, b = heapq.heappop(heap)
        if -negn < min_count:
            stop_reason = "min_count"
            break
        if track_margins:
            pop_stale()  # live second-best now sits at heap[0]
            second = -heap[0][0] if heap else 0
            margins.append(-negn - second)
        merges.append((a, b))
        changed: set[tuple[str, str]] = set()
        for i in list(pair_words.get((a, b), ())):
            # subtract the word's old adjacencies, fold, re-add — O(|w|)
            # per touched word; pair_words membership is pruned lazily
            # (a stale index nets to zero on the subtract/re-add)
            changed.update(add_word(i, -1))
            words[i] = fold(words[i], a, b)
            changed.update(add_word(i, +1))
        pair_words.pop((a, b), None)
        pair_n.pop((a, b), None)
        for p in changed:
            n = pair_n.get(p, 0)
            if n > 0:
                heapq.heappush(heap, (-n, p[0], p[1]))
    return merges, margins, stop_reason


def collect_histogram_capped(
    hist: DataFrame, hist_floor: int
) -> tuple[list[tuple[str, int]], dict]:
    """Collect ``cnt >= hist_floor`` histogram rows plus the dropped
    tail's ADJACENCY MASS — the quantity the identity certificate
    needs — without ever collecting the tail itself.

    The long tail is summarized executor-side in the same V-bounded
    frame: one aggregate computes (rows dropped, Σ cnt·(|word|−1)).
    ``Σ cnt·(|word|−1)`` upper-bounds the dropped tail's contribution
    to ANY pair count at ANY point of training: a dropped word of
    length L has at most L−1 adjacencies initially, and folding merges
    into it only ever REDUCES its adjacency count, so its total
    contribution across all pairs stays ≤ cnt·(L−1) at every step.
    """
    kept = [
        (r[0], r[1])
        for r in hist.filter(F.col("cnt") >= hist_floor)
        .select("word", "cnt")
        .collect()
    ]
    tail = (
        hist.filter(F.col("cnt") < hist_floor)
        .agg(
            F.count(F.lit(1)).alias("rows_dropped"),
            F.coalesce(
                F.sum(
                    F.col("cnt")
                    * (F.length("word") - F.lit(1)).cast("long")
                ),
                F.lit(0),
            ).alias("dropped_adjacency_mass"),
        )
        .collect()[0]
    )
    stats = {
        "hist_floor": hist_floor,
        "rows_kept": len(kept),
        "rows_dropped": int(tail["rows_dropped"]),
        "dropped_adjacency_mass": int(tail["dropped_adjacency_mass"]),
        "collected_bytes_est": sum(len(w) + 12 for w, _ in kept),
    }
    return kept, stats


def bpe_learn_capped(
    hist: DataFrame,
    num_merges: int = 12,
    min_count: int = 2,
    hist_floor: int = 2,
) -> tuple[list[tuple[str, str]], dict]:
    """``bpe_learn_local`` with the histogram collect BOUNDED by a
    frequency floor — the web-scale trainer posture (r9 verdict task
    #2: the exact trainer's ``collect()`` is unbounded in the pretoken
    long tail; every production trainer cuts it).

    Only rows with ``cnt >= hist_floor`` reach the driver; the dropped
    tail is summarized (not collected) as its total adjacency mass
    ``M = Σ_dropped cnt·(|word|−1)``. That yields a per-run IDENTITY
    CERTIFICATE, not just a hope:

    for any pair p at any step, the exact trainer's count satisfies
    ``n'(p) ≤ n(p) ≤ n'(p) + M`` where ``n'`` is the capped count
    (dropped words only ever ADD mass, and a word's lifetime
    contribution is bounded by its initial adjacency count — see
    ``collect_histogram_capped``). Every executed merge whose argmax
    margin exceeds M is therefore PROVABLY the exact trainer's choice
    too — and since the proof is per-step-given-identical-prefix, the
    guarantee composes into a PREFIX: ``certified_prefix`` = number of
    leading merges provably identical to the exact list (the scan
    stops at the first step whose margin ≤ M — deep merges tie, so an
    all-or-nothing certificate would be uselessly strict; measured in
    the round-10 ladder). ``certified=True`` means the WHOLE list is
    proven: all margins > M and the run stopped on ``num_merges``
    (exact counts dominate capped counts, so the exact trainer also
    reaches that step), or trivially M=0. Beyond the certified prefix
    the lists are not necessarily different, just not proven equal —
    scripts/bpe_floor_ladder.py measures the actual divergence point
    against a ground-truth floor=1 run on the Zipf decades.

    Under a Zipf corpus the head pairs' margins are corpus-sized while
    M is tail-sized, so realistic floors certify a deep prefix —
    measured on the decade fixture in PERF.md (round 10).

    Returns ``(merges, stats)``; stats carries the collect-side
    savings (rows/bytes kept vs dropped) and the certificate
    (``min_margin``, ``certified_prefix``, ``certified``,
    ``stop_reason``).
    """
    if hist_floor <= 1:
        rows = [
            (r[0], r[1]) for r in hist.select("word", "cnt").collect()
        ]
        stats = {
            "hist_floor": hist_floor,
            "rows_kept": len(rows),
            "rows_dropped": 0,
            "dropped_adjacency_mass": 0,
            "collected_bytes_est": sum(len(w) + 12 for w, _ in rows),
        }
    else:
        rows, stats = collect_histogram_capped(hist, hist_floor)
    merges, margins, stop_reason = _heap_trainer(
        rows, num_merges, min_count, track_margins=True
    )
    m = stats["dropped_adjacency_mass"]
    # M=0 ⟹ the capped histogram IS the full histogram — trivially
    # exact, whatever the margins (ties are then resolved identically
    # by the shared trainer). With M>0: each step's argmax is proven
    # GIVEN the prefix before it was identical, so certification is a
    # prefix scan — strict margin > M survives the tail and kills ties
    # (n' ≤ n ≤ n'+M; a pair absent from the capped histogram has
    # n ≤ M < n'(best)). Full certification additionally needs the
    # num_merges stop (exact counts dominate capped counts, so the
    # exact trainer also reaches that step; a min_count/exhausted stop
    # could have been continued by tail-carried pairs).
    if m == 0:
        certified_prefix = len(merges)
        certified = True
    else:
        certified_prefix = next(
            (i for i, g in enumerate(margins) if g <= m), len(merges)
        )
        certified = (
            certified_prefix == len(merges) and stop_reason == "num_merges"
        )
    stats.update(
        {
            "min_margin": min(margins) if margins else None,
            "certified_prefix": certified_prefix,
            "stop_reason": stop_reason,
            "certified": certified,
        }
    )
    return merges, stats


def bpe_tokenize(
    docs: DataFrame, merges: list[tuple[str, str]], text_col: str = "text"
) -> DataFrame:
    """Per-document BPE tokens under a learned merge list."""
    return docs.withColumn("bpe_tokens", tokens_expr(F.col(text_col), merges))


# --- DuckDB twin (generated SQL for the q124 oracle) ---------------------


def _sql_segment(chars_sql: str, merges: list[tuple[str, str]]) -> str:
    """Nested list_reduce folds replaying ``merge_fold`` per merge.

    Lambda variable names are uniqued per nesting level (DuckDB scopes
    lambdas lexically). ``list_reduce`` has no initial accumulator, so
    symbols are lifted to single-element lists and the first element
    seeds the fold — identical to the Spark fold, whose first iteration
    can never match an empty-tail accumulator.
    """
    e = f"list_transform({chars_sql}, s0 -> [s0])"
    for i, (a, b) in enumerate(merges):
        acc, x = f"a{i}", f"x{i}"
        e = (
            f"list_transform(list_reduce({e}, ({acc}, {x}) -> "
            f"CASE WHEN len({acc}) > 0 AND {acc}[len({acc})] = '{a}' "
            f"AND {x}[1] = '{b}' "
            f"THEN list_concat({acc}[1:len({acc})-1], ['{a}{b}']) "
            f"ELSE list_concat({acc}, {x}) END), s{i + 1} -> [s{i + 1}])"
        )
    # unwrap the single-element lift of the last level
    return f"list_transform({e}, su -> su[1])"


def bpe_sql_tokens(text_sql: str, merges: list[tuple[str, str]]) -> str:
    """DuckDB expression for the full token stream of ``text_sql``."""
    words = (
        f"list_filter(regexp_split_to_array(lower({text_sql}), "
        f"'{WORD_SPLIT_RE}'), w0 -> len(w0) > 0)"
    )
    chars = "list_transform(range(1, len(w) + 1), ci -> w[ci])"
    seg = _sql_segment(chars, merges)
    return f"flatten(list_transform({words}, w -> {seg}))"


def bpe_tokenize_via_vocab(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    broadcast_vocab: bool = True,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """The saturated-corpus twin of ``bpe_tokenize``: segmentation is a
    pure function of the WORD, so run the merge folds over the DISTINCT
    vocabulary (V rows, Heaps-bounded) and join the word→tokens mapping
    back to the positional token stream, re-assembling per-document
    order with the sort_array(collect_list(struct)) pattern.

    Trade against the fold form (measured, PERF.md round-7): the fold
    form is zero-shuffle but its per-row compute is CORPUS-sized (every
    occurrence of every word re-runs the k folds); this form pays one
    doc_id shuffle (plus a vocab broadcast) but does the k folds exactly
    V times. Past vocabulary saturation — every corpus eventually —
    corpus/V occurrences per word make the V-bounded form the 100 TB
    path. ``broadcast_vocab=False`` switches the mapping join to a
    shuffle join for vocabularies too large to broadcast (100M+ words);
    the segmentation compute stays V-bounded either way.

    Precondition: ``docs`` rows must be unique across ``docs.columns``
    (in practice: include a key column — every fixture table has one).
    The positional re-assembly groups by the full row, so two
    byte-identical input rows would collapse into one output row with
    a doubled token array where ``bpe_tokenize`` emits two rows.
    Row-for-row fidelity means: under that precondition, every input
    row (including wordless ones, via posexplode_outer) yields exactly
    one output row.
    """
    word_toks = (
        docs.select(F.explode(words_expr(F.col(text_col))).alias("word"))
        .distinct()
        .select("word", segment_expr(F.col("word"), merges).alias("word_toks"))
    )
    return _join_word_tokens(
        docs, word_toks, text_col, broadcast_vocab, key_cols
    )


def _join_word_tokens(
    docs: DataFrame,
    word_toks: DataFrame,
    text_col: str,
    broadcast_vocab: bool,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Join a (word, word_toks) vocabulary mapping back onto the
    positional token stream, re-assembling per-document order (shared by
    the fold-segmented and UDF-segmented vocab-apply forms).

    ``key_cols``: when the caller can name a unique document key, the
    positional shuffle carries ONLY (key, pos, word_toks) — the wide
    payload columns (text itself, metadata) rejoin doc-level AFTER the
    reassembly instead of riding every word row through the exchange.
    Measured on the 50k-doc Zipf fixture: the full-row group-by shuffles
    ~400 B of text per word occurrence; keying halves the wall clock
    (PERF.md round 9). Falls back to grouping by the full row (the
    original row-uniqueness precondition) when no key is given.

    ``key_cols`` must be UNIQUE and NON-NULL: null keys would collapse
    into one group in the reassembly and then vanish in the inner
    join-back (null never equals null in a join), silently breaking the
    row-for-row contract the no-key path keeps. Since no per-row
    semantics can be salvaged for a collapsed null group, a null key is
    made to FAIL LOUDLY: each key expression raises at runtime on a null
    (r9 ADVICE — the check is part of the grouping key so Catalyst
    cannot prune it; cost is one null test per word row).
    """
    if broadcast_vocab:
        word_toks = F.broadcast(word_toks)
    carry = list(key_cols) if key_cols else list(docs.columns)
    if key_cols:
        guarded = [
            F.when(
                F.col(k).isNull(),
                F.raise_error(
                    f"_join_word_tokens: null document key in '{k}' — "
                    "key_cols must be unique and non-null (a null-key "
                    "corpus would silently lose rows in the join-back)"
                ),
            )
            .otherwise(F.col(k))
            .alias(k)
            for k in key_cols
        ]
    else:
        guarded = carry
    # posexplode_OUTER keeps documents with zero alphanumeric words as a
    # single (pos=null, word=null) row, so the twin is row-for-row
    # faithful to bpe_tokenize without a second corpus join: the null
    # word left-joins to a null mapping, flatten propagates the null,
    # and the coalesce lands the empty token array.
    pos = docs.select(
        *guarded,
        F.posexplode_outer(words_expr(F.col(text_col))).alias("pos", "word"),
    )
    assembled = (
        pos.join(word_toks, "word", "left")
        .groupBy(*carry)
        .agg(
            F.coalesce(
                F.flatten(
                    F.transform(
                        F.sort_array(
                            F.collect_list(F.struct("pos", "word_toks"))
                        ),
                        lambda s: s["word_toks"],
                    )
                ),
                F.expr("CAST(array() AS array<string>)"),
            ).alias("bpe_tokens")
        )
    )
    if not key_cols or set(docs.columns) == set(carry):
        return assembled
    return docs.join(assembled, list(key_cols)).select(
        *docs.columns, "bpe_tokens"
    )


# --- production-size vocabularies (round 9) --------------------------------
#
# The fold apply compiles one ArrayAggregate per merge into the plan, so
# a PRODUCTION vocabulary (30k+ merges) is out of its reach twice over:
# the expression tree itself breaks Catalyst far below 30k (measured
# ladder: scripts/bpe30k_ladder.py — codegen/analysis collapse is the
# recorded boundary), and even where it compiles the work per word is
# O(k·|w|) — every word pays every merge, present or not. The standard
# answer (every production tokenizer) is per-word segmentation that only
# touches merges whose pair actually occurs: O(|w| log |w|) amortized.
# ``segment_word`` implements it EXACTLY on the module's single-pass
# rank-order convention (parity with the merge_fold chain is pinned in
# tests/test_bpe.py), and ``bpe_tokenize_large_vocab`` runs it over the
# DISTINCT vocabulary only — V-bounded Arrow-batched Python, never
# corpus-bounded — then reuses the same positional join-back as the fold
# twin. This is one of the documented deliberate Python sites (the
# multimodal Arrow decode rule): built-in expressions genuinely cannot
# express a 30k-rule priority segmentation.


def merge_ranks(
    merges: list[tuple[str, str]],
) -> dict[tuple[str, str], tuple[int, ...]]:
    """Pair → ALL its ranks (ascending), for ``segment_word``.

    A merge list can legitimately contain the same pair at two ranks:
    after (a,b) is learned and fused everywhere, a later merge can
    recreate an a/b adjacency through a different derivation and the
    trainer (like the textbook reference, which recounts stats each
    iteration) may learn it again. The chain contract runs BOTH passes,
    so the lookup must not collapse duplicates to one rank."""
    out: dict[tuple[str, str], list[int]] = {}
    for r, pair in enumerate(merges):
        out.setdefault(pair, []).append(r)
    return {p: tuple(rs) for p, rs in out.items()}


def segment_word(
    word: str,
    merges: list[tuple[str, str]],
    ranks: dict[tuple[str, str], int] | None = None,
) -> list[str]:
    """Segment one word under the single-pass rank-order convention,
    byte-equal to chaining ``merge_fold`` over all ``merges`` — but in
    O(|w| log |w|) amortized instead of O(k·|w|).

    Equivalence argument: the fold chain applies rank r's left-to-right
    pass exactly once, at ordinal position r; passes whose pair is not
    present in the word at that moment are identity. Popping queued
    ranks from a min-heap applies the SAME passes in the SAME relative
    order and merely skips identities: a pair first created by rank r's
    fusion is queued only if its own rank exceeds r (in the chain, an
    earlier-ranked pass has already run and would never see it), and
    heap contents are always ≥ the last popped rank, so no pass can run
    out of order or twice. Pinned against the fold chain and the
    trainer's internal fold in tests/test_bpe.py.
    """
    import heapq

    if ranks is None:
        ranks = merge_ranks(merges)
    syms = list(word)
    queued: set[int] = set()
    for p in zip(syms, syms[1:]):
        queued.update(ranks.get(p, ()))
    heap = sorted(queued)
    while heap:
        r = heapq.heappop(heap)
        a, b = merges[r]
        out: list[str] = []
        for s in syms:
            if out and out[-1] == a and s == b:
                out[-1] = a + b
            else:
                out.append(s)
        syms = out
        for p in zip(syms, syms[1:]):
            for rr in ranks.get(p, ()):
                # a pair created by rank r's fusion is runnable only at
                # ranks AFTER r (the chain's earlier passes are spent);
                # duplicate ranks of a pair each get their own pass
                if rr > r and rr not in queued:
                    queued.add(rr)
                    heapq.heappush(heap, rr)
    return syms


def segmented_vocab(
    words: DataFrame, merges: list[tuple[str, str]], word_col: str = "word"
) -> DataFrame:
    """(word, word_toks) mapping for a distinct-word frame, segmented by
    an Arrow-batched ``mapInPandas`` over ``segment_word``. The input is
    the VOCABULARY (V rows, Heaps-bounded), not the corpus — the only
    place Python touches the token path, and only V times."""
    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    out_schema = StructType(
        [
            StructField(word_col, StringType()),
            StructField("word_toks", ArrayType(StringType())),
        ]
    )
    ranks = merge_ranks(merges)

    def seg_batches(batches):
        for pdf in batches:
            pdf = pdf[[word_col]].copy()
            pdf["word_toks"] = [
                segment_word(w, merges, ranks) for w in pdf[word_col]
            ]
            yield pdf

    return words.select(word_col).mapInPandas(seg_batches, out_schema)


def bpe_tokenize_large_vocab(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    broadcast_vocab: bool = True,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """``bpe_tokenize_via_vocab`` for production-size merge lists (30k+):
    identical output contract and join-back, but the distinct vocabulary
    is segmented by ``segment_word`` (V-bounded Arrow batches) instead
    of a k-deep fold expression Catalyst cannot hold at this k. Same
    row-uniqueness precondition as the fold twin; pass ``key_cols`` (a
    unique doc key) to keep wide payload columns out of the positional
    shuffle."""
    word_toks = segmented_vocab(
        docs.select(F.explode(words_expr(F.col(text_col))).alias("word"))
        .distinct(),
        merges,
    )
    return _join_word_tokens(
        docs, word_toks, text_col, broadcast_vocab, key_cols
    )
