"""Corpus-scale BPE tokenizer training and application.

`text_profile` estimates token counts with a vocabulary-free regex
(`text.py::BPE_PIECE_RE`); this module LEARNS the vocabulary — the
byte-pair-encoding merge table of Sennrich et al. 2016 (ACL,
"Neural Machine Translation of Rare Words with Subword Units"), the
construction behind the GPT-2/RoBERTa tokenizer family — from the
corpus itself, Spark-first:

- **The corpus is scanned once.** Pre-tokenize every document with the
  same `BPE_PIECE_RE` pieces the profiler counts, aggregate to a
  (piece, freq) WORD-FREQUENCY table, and train on that. At 100 TB the
  distinct-piece table is orders of magnitude smaller than the corpus
  (it is the corpus' vocabulary, not its text) and stays distributed.
- **One JVM aggregation per merge round, zero Python in the loop.**
  Each round counts adjacent symbol pairs weighted by word frequency
  (`arrays_zip` of the shifted symbol arrays → explode → sum), takes
  the arg-max pair with a deterministic tie-break (count desc, then
  lexicographic), and rewrites the symbol arrays with a single
  `F.aggregate` fold (greedy left-to-right merge — the fold's
  last-element test is equivalent to the scan-and-skip-two pass).
  Only the winning pair (one row) ever reaches the driver per round.
- **Deterministic at any partitioning**: counts are associative sums,
  the tie-break is total, and the fold is per-row. Re-training on a
  differently-partitioned cluster yields the identical merge table.

Divergences from the reference implementations, documented: no
end-of-word marker (round-trip concatenation equals the piece, which
the tests pin; merges simply never cross piece boundaries because
pairs are generated within one piece's array), and pieces longer than
``max_word_len`` are excluded from TRAINING statistics (a pathological
megaword would dominate the pair counts) while still being tokenized
at apply time.

Application (`apply_bpe`) is the production hot path and uses an
Arrow-batched pandas UDF (never row-at-a-time): merges are applied in
rank order per piece — exactly the training rewrite order, so
tokenizing the training corpus reproduces the trainer's final symbol
state (pinned by test).
"""

from __future__ import annotations

import re as _re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from database_anonymiser_spark.operators.text import BPE_PIECE_RE
from database_anonymiser_spark.safeguards import bounded_collect

#: training-table guard: pieces longer than this many characters are
#: excluded from pair statistics (never from application)
MAX_WORD_LEN = 64

#: materialization cadence for the iterated vocab frame — every round
#: rewrites the symbol arrays, so the plan would otherwise nest n_merges
#: folds deep; a localCheckpoint every few rounds keeps analysis cost flat
_CHECKPOINT_EVERY = 8

#: vocabulary ceiling for the LOCAL merge loop (r15, guide §1.2/§5: the
#: loop's cost is driver/job latency, not data volume). Below this many
#: distinct words the (word, freq) table is MODEL-sized — the same
#: bounded-driver-collect class as the IVF/PQ codebooks — while the
#: distributed loop pays n_merges × (explode+groupBy+argmax-collect)
#: rounds of pure job scheduling (measured 5.5s for 24 rounds over the
#: sf0.1 fixture's ~10k-word vocab, ~0.23s/round of scheduling against
#: microseconds of arithmetic). The local replay uses the identical pair
#: counting, argmax tie-break (count desc, then lexicographic — Python's
#: code-point order equals Spark's unsigned UTF-8 byte order, a standard
#: UTF-8 property) and greedy left-to-right rewrite, so the merge table
#: is bit-identical (pinned in tests/test_tokenizer.py against the
#: distributed loop). Above the cap the distributed loop runs unchanged
#: — the 100 TB path. 2^17 words × ≤64 chars ≈ ≤17 MB on the driver.
LOCAL_TRAIN_VOCAB_CAP = 1 << 17

#: Java-regex line terminators: the distributed char split uses the
#: lookahead ``(?=.)`` where ``.`` excludes these, so a terminator glues
#: onto the PRECEDING symbol; the local split must reproduce that.
_JAVA_DOT_EXCLUDES = "\n\r\x85  "


def _char_split(word: str) -> list[str]:
    """Local twin of ``F.split(word, "(?!^)(?=.)")`` — one symbol per code
    point, except Java-``.``-excluded line terminators, which attach to
    the preceding symbol (and to each other at the start of the word)."""
    syms: list[str] = []
    for ch in word:
        if syms and ch in _JAVA_DOT_EXCLUDES:
            syms[-1] += ch
        else:
            syms.append(ch)
    return syms


def _merge_scan(syms: list[str], a: str, b: str, ab: str) -> list[str]:
    """Greedy left-to-right scan-and-skip-two application of one merge —
    the proven-equivalent local twin of :func:`_merge_fold` (the same
    pass :func:`apply_bpe` runs per piece)."""
    out: list[str] = []
    j, n = 0, len(syms)
    while j < n:
        if j + 1 < n and syms[j] == a and syms[j + 1] == b:
            out.append(ab)
            j += 2
        else:
            out.append(syms[j])
            j += 1
    return out


def _train_bpe_local(
    spark,
    head: list,
    n_merges: int,
    min_pair_count: int,
    return_vocab: bool,
):
    """The merge loop of :func:`train_bpe` run locally over a collected
    bounded (word, freq) table — semantics identical to the distributed
    loop round for round: same pair counts (associative integer sums),
    same argmax tie-break (count desc, then (a, b) ascending — Python
    string order ≡ Spark's UTF-8 byte order), same greedy rewrite, same
    ``min_pair_count`` early stop."""
    vocab: list[list] = [
        [r["word"], int(r["freq"]), _char_split(r["word"])] for r in head
    ]
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for _w, freq, syms in vocab:
            for j in range(len(syms) - 1):
                p = (syms[j], syms[j + 1])
                counts[p] = counts.get(p, 0) + freq
        best_p, best_c = None, None
        for p, c in counts.items():
            if best_c is None or c > best_c or (c == best_c and p < best_p):
                best_p, best_c = p, c
        if best_p is None or best_c < min_pair_count:
            break
        a, b = best_p
        merges.append((a, b))
        ab = a + b
        for row in vocab:
            if len(row[2]) >= 2:
                row[2] = _merge_scan(row[2], a, b, ab)
    if return_vocab:
        vdf = spark.createDataFrame(
            [(w, f, s) for w, f, s in vocab],
            "word string, freq long, syms array<string>",
        )
        return merges, vdf
    return merges


def word_frequencies(
    docs: DataFrame,
    text_col: str,
    lowercase: bool = True,
    max_word_len: int = MAX_WORD_LEN,
) -> DataFrame:
    """The ONE corpus scan: (word, freq) over `BPE_PIECE_RE` pieces.
    Map-side explode + one partial-aggregated groupBy; the result is
    vocabulary-sized, not corpus-sized."""
    t = F.col(text_col)
    if lowercase:
        t = F.lower(t)
    return (
        # r15: explode_outer + isNotNull — a bare explode lets Catalyst
        # infer size(regexp_extract_all(..)) > 0 and evaluate the regex
        # extraction twice per row in the scan stage (see
        # dedup.explode_nonempty); extracted pieces are never NULL, so
        # the row set is identical
        docs.select(
            F.explode_outer(F.regexp_extract_all(t, F.lit(BPE_PIECE_RE), 0)).alias(
                "word"
            )
        )
        .where(F.col("word").isNotNull() & (F.length("word") <= max_word_len))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _merge_fold(syms: F.Column, a: str, b: str) -> F.Column:
    """Greedy left-to-right application of one merge rule (a, b) -> ab
    to a symbol array, as a JVM-side fold: append each symbol unless the
    running output ends with `a` and the symbol is `b`, in which case
    replace the tail with the merged symbol. Equivalent to the classic
    scan-and-skip-two pass (the replaced tail can itself be a merge
    product only when its full string equals `a`, which is exactly when
    the scan would merge too)."""
    return F.aggregate(
        syms,
        F.expr("cast(array() as array<string>)"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(a + b))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def train_bpe(
    docs: DataFrame,
    text_col: str,
    n_merges: int,
    lowercase: bool = True,
    min_pair_count: int = 2,
    max_word_len: int = MAX_WORD_LEN,
    return_vocab: bool = False,
):
    """Learn ``n_merges`` BPE merge rules from the corpus; returns the
    ordered merge list ``[(a, b), ...]`` (the model — driver-sized by
    construction: one pair per round), or ``(merges, vocab_df)`` with
    the final (word, freq, syms) frame when ``return_vocab``.

    Stops early when the best remaining pair occurs fewer than
    ``min_pair_count`` times (a merge seen once generalizes to nothing).

    Scale shape: one corpus scan builds the word-frequency table; each
    round is one explode+groupBy over the VOCABULARY (not the corpus)
    plus a 1-row argmax collect; the symbol-array rewrite is a JVM fold.
    For a trillion-token corpus, train on a deterministic
    `hash_sample` of documents — the vocabulary converges long before
    the full corpus is needed (Sennrich trains on ~10M words).

    r15 optimization (guide §1.2: fix the distributed algorithm's job
    count before anything else): when the vocabulary holds at most
    :data:`LOCAL_TRAIN_VOCAB_CAP` distinct words, the (word, freq)
    table is collected ONCE (a ``limit(cap+1)`` bounded probe — the
    safeguard row-cap pattern) and the merge loop runs locally with
    bit-identical semantics; one corpus scan + one collect instead of
    ~2·n_merges scheduled jobs. Above the cap the distributed loop
    below runs unchanged.
    """
    if n_merges < 0:
        raise ValueError("n_merges must be >= 0")
    words = word_frequencies(
        docs, text_col, lowercase=lowercase, max_word_len=max_word_len
    ).withColumn(
        # chars: split at every inter-character position (not start, and
        # only where a character follows — Spark keeps trailing empties)
        "syms",
        F.split(F.col("word"), "(?!^)(?=.)"),
    )
    words = words.localCheckpoint()

    # bounded-vocab fast path: ≤ cap+1 (word, freq) rows ever reach the
    # driver; reads the just-materialized checkpoint, so the corpus is
    # still scanned exactly once
    head = bounded_collect(words.select("word", "freq"), LOCAL_TRAIN_VOCAB_CAP)
    if head is not None:
        return _train_bpe_local(
            docs.sparkSession, head, n_merges, min_pair_count, return_vocab
        )

    merges: list[tuple[str, str]] = []
    for i in range(n_merges):
        pairs = (
            words.select(
                "freq",
                F.explode(
                    F.arrays_zip(
                        F.expr("slice(syms, 1, size(syms) - 1)").alias("a"),
                        F.expr("slice(syms, 2, size(syms) - 1)").alias("b"),
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("freq").alias("cnt"))
        )
        best = pairs.orderBy(F.desc("cnt"), "a", "b").limit(1).collect()
        if not best or best[0]["cnt"] < min_pair_count:
            break
        a, b = best[0]["a"], best[0]["b"]
        merges.append((a, b))
        words = words.select(
            "word", "freq", _merge_fold(F.col("syms"), a, b).alias("syms")
        )
        if (i + 1) % _CHECKPOINT_EVERY == 0:
            words = words.localCheckpoint()
    if return_vocab:
        return merges, words
    return merges


def apply_bpe(
    df: DataFrame,
    id_col: str,
    text_col: str,
    merges: list[tuple[str, str]],
    lowercase: bool = True,
    emit_tokens: bool = False,
) -> DataFrame:
    """Tokenize ``text_col`` with a trained merge table: per document,
    pre-tokenize into `BPE_PIECE_RE` pieces, split each piece to
    characters, and apply the merges IN RANK ORDER (the training rewrite
    order, so training-corpus tokenization reproduces the trainer's
    final symbol state). Returns (id, n_bpe_tokens[, bpe_tokens]).

    The hot path is one Arrow-batched pandas UDF (the merge table is a
    broadcast-sized Python constant; each batch tokenizes in-process —
    never row-at-a-time py4j). Map-side only: no shuffle, no driver
    data.

    The pre-tokenizer is compiled with ``re.ASCII`` so ``\\s`` means the
    ASCII class — matching Java regex (Spark's `regexp_extract_all`,
    which `word_frequencies` trains through) and RE2 (the DuckDB
    oracle). Under Python's default Unicode ``\\s``, a U+00A0 (ubiquitous
    in web corpora) would be silently dropped at apply time while
    training counted it as a piece, breaking train/apply parity.

    Pieces are memoized per batch: Zipf's law means a handful of
    distinct pieces cover most occurrences, so the dict cache turns the
    vast majority of per-occurrence merge walks into O(1) lookups."""
    from pyspark.sql import types as T

    piece_re = _re.compile(BPE_PIECE_RE, _re.ASCII)
    rules = [tuple(m) for m in merges]

    def _tok(piece: str) -> list:
        syms = list(piece)
        for a, b in rules:
            if len(syms) < 2:
                break
            out = []
            j = 0
            n = len(syms)
            while j < n:
                if j + 1 < n and syms[j] == a and syms[j + 1] == b:
                    out.append(a + b)
                    j += 2
                else:
                    out.append(syms[j])
                    j += 1
            syms = out
        return syms

    @F.pandas_udf(
        T.ArrayType(T.StringType()) if emit_tokens else T.LongType()
    )
    def bpe(texts: pd.Series) -> pd.Series:
        memo: dict = {}
        vals = []
        for t in texts:
            if t is None:
                vals.append([] if emit_tokens else 0)
                continue
            s = t.lower() if lowercase else t
            if emit_tokens:
                toks: list = []
                for piece in piece_re.findall(s):
                    got = memo.get(piece)
                    if got is None:
                        got = memo[piece] = _tok(piece)
                    toks.extend(got)
                vals.append(toks)
            else:
                n = 0
                for piece in piece_re.findall(s):
                    got = memo.get(piece)
                    if got is None:
                        got = memo[piece] = len(_tok(piece))
                    n += got
                vals.append(n)
        return pd.Series(vals)

    out = [F.col(id_col)]
    if emit_tokens:
        out.append(bpe(F.col(text_col)).alias("bpe_tokens"))
        return df.select(*out).withColumn(
            "n_bpe_tokens", F.size("bpe_tokens").cast("long")
        )
    out.append(bpe(F.col(text_col)).alias("n_bpe_tokens"))
    return df.select(*out)


# ---------------------------------------------------------------------------
# Tokenizer artifact lifecycle (round 11): a trained BPE is a GOVERNED,
# time-travelable artifact, not a Python list that dies with the driver —
# the same pattern the versioned ANN index store proves
# (operators/index_store.py): model rows in a VersionedTable, config in
# the commit's metadata slot, every save one atomic commit.
# ---------------------------------------------------------------------------

#: the persisted model's schema: one row per merge rule, rank = apply order
TOKENIZER_SCHEMA = "rank long, a string, b string"


def save_tokenizer(
    spark,
    root: str,
    merges: list[tuple[str, str]],
    lowercase: bool = True,
    meta: dict | None = None,
) -> int:
    """Persist a trained merge table into the versioned table at ``root``
    as ONE atomic commit: merge rules as (rank, a, b) rows keyed on rank,
    apply-relevant config (``lowercase``, plus any caller ``meta`` —
    training corpus id, n_merges requested, ...) in the commit's metadata
    slot. Re-saving a re-trained tokenizer is a FULL-SYNC merge
    (vanished ranks delete, changed rules update, new ranks insert), so
    every generation is a version: pipelines pin the generation they
    were built with and time-travel reproduces it exactly. Returns the
    committed version."""
    from database_anonymiser_spark.sources.versioned import VersionedTable

    rows = [(i, a, b) for i, (a, b) in enumerate(merges)]
    df = spark.createDataFrame(rows, TOKENIZER_SCHEMA)
    commit_meta = {
        "tokenizer": {
            "lowercase": bool(lowercase),
            "n_merges": len(merges),
            **(meta or {}),
        }
    }
    t = VersionedTable(spark, root)
    if not t.versions():
        VersionedTable.create(spark, root, df.limit(0), key_col="rank")
        t = VersionedTable(spark, root)
    return t.merge(
        df, not_matched_by_source="delete", meta=commit_meta,
    )


def load_tokenizer(spark, root: str, version: int | None = None):
    """Load ``(merges, config)`` from a saved tokenizer table —
    ``version`` pins a generation (default latest): the merge rows come
    from that version's snapshot, the config from the newest
    tokenizer-save commit at or below it. The collect is MODEL-sized
    (one row per merge rule — the same driver-sized-by-construction
    bound as training's per-round argmax), never corpus-sized."""
    from database_anonymiser_spark.sources.versioned import VersionedTable

    t = VersionedTable(spark, root)
    if not t.versions():
        raise FileNotFoundError(f"no tokenizer table at {root}")
    v = t.latest_version() if version is None else version
    cfg = None
    for w in sorted((x for x in t.versions() if x <= v), reverse=True):
        m = t.commit_meta(w) or {}
        if "tokenizer" in m:
            cfg = dict(m["tokenizer"])
            break
    if cfg is None:
        raise ValueError(f"no tokenizer save commit at or below v{v}")
    rows = t.snapshot(v).orderBy("rank").collect()
    merges = [(r["a"], r["b"]) for r in rows]
    return merges, cfg


def apply_saved_bpe(
    spark,
    df: DataFrame,
    id_col: str,
    text_col: str,
    root: str,
    version: int | None = None,
    emit_tokens: bool = False,
) -> DataFrame:
    """Tokenize with a SAVED tokenizer generation — load + :func:`apply_bpe`
    with the saved config (``lowercase`` travels with the artifact, so an
    apply can never silently diverge from how the vocab was trained)."""
    merges, cfg = load_tokenizer(spark, root, version=version)
    return apply_bpe(
        df, id_col, text_col, merges,
        lowercase=bool(cfg.get("lowercase", True)),
        emit_tokens=emit_tokens,
    )
