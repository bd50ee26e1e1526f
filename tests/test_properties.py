"""Property-based tests (SURVEY.md §5.4): masking invariants over
hypothesis-generated inputs — idempotence, determinism, length bounds, null
handling. Few examples with batched values: one Spark job per example, not
per value."""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from database_anonymiser_spark.strategies import strategy_column

TEXT = st.text(min_size=0, max_size=64)
FAST = settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _apply(spark, values, expr_fn):
    df = spark.createDataFrame([(v,) for v in values], "v string")
    return [r[0] for r in df.select(expr_fn(F.col("v")).alias("o")).collect()]


def _mask(strategy, params=None):
    """The strategy over ``_apply``'s one column ``v``."""
    return lambda _: strategy_column(strategy, "v", params)


@given(vals=st.lists(TEXT, min_size=1, max_size=30))
@FAST
def test_masking_idempotent_and_deterministic(spark, vals):
    for strategy in ("REDACT", "HASH_SHA256", "EMAIL_FAKE"):
        once = _apply(spark, vals, _mask(strategy))
        twice = _apply(spark, once, _mask(strategy))
        again = _apply(spark, vals, _mask(strategy))
        assert once == again  # deterministic
        if strategy == "REDACT":
            assert twice == once  # idempotent (fixed point)


@given(vals=st.lists(TEXT, min_size=1, max_size=30), n=st.integers(1, 16))
@FAST
def test_truncate_length_bound(spark, vals, n):
    out = _apply(spark, vals, _mask("TRUNCATE", {"n": n}))
    for v, o in zip(vals, out):
        assert o is not None  # null-coalesced to ''
        assert len(o) <= n
        assert o == v[:n]


@given(vals=st.lists(st.one_of(st.none(), TEXT), min_size=1, max_size=30))
@FAST
def test_hash_null_coalesces_to_empty_hash(spark, vals):
    out = _apply(spark, vals, _mask("HASH_SHA256"))
    import hashlib

    for v, o in zip(vals, out):
        expected = hashlib.md5((v or "").encode()).hexdigest()
        assert o == expected


@given(vals=st.lists(TEXT, min_size=1, max_size=30))
@FAST
def test_email_fake_shape(spark, vals):
    out = _apply(spark, vals, _mask("EMAIL_FAKE"))
    for o in out:
        assert o.endswith("@example.com") and len(o) == 32 + len("@example.com")


# free text possibly containing PII-shaped fragments
PII_ISH = st.one_of(
    TEXT,
    st.from_regex(r"[a-z]{1,8}@[a-z]{1,8}\.[a-z]{2,4}", fullmatch=True),
    st.from_regex(r"[0-9]{3}-[0-9]{2}-[0-9]{4}", fullmatch=True),
    st.from_regex(r"[0-9]{3}-[0-9]{3}-[0-9]{4}", fullmatch=True),
)


@given(vals=st.lists(PII_ISH, min_size=1, max_size=30))
@FAST
def test_scrub_pii_idempotent_and_clean(spark, vals):
    """scrub(scrub(x)) == scrub(x), and no email/SSN/phone pattern survives
    a scrub (the placeholder tokens contain no digits or @)."""
    import re

    from database_anonymiser_spark.operators.text import PII_PATTERNS, scrub_pii

    once = _apply(spark, vals, scrub_pii)
    twice = _apply(spark, once, scrub_pii)
    assert twice == once
    for o in once:
        for pat, _ in PII_PATTERNS:
            assert not re.search(pat, o), f"pattern {pat} survived scrub: {o!r}"


@given(
    cols=st.dictionaries(
        st.from_regex(r"[a-z_]{1,12}", fullmatch=True),
        st.sampled_from(["KEEP", "SET_NULL", "REDACT", "HASH_SHA256", "TRUNCATE"]),
        min_size=1,
        max_size=6,
    )
)
@FAST
def test_column_strategy_orientations_agree(cols):
    """Any column→strategy map must normalize identically whether written in
    the internal orientation or the reference's strategy→[columns] one."""
    from database_anonymiser_spark.config import _normalize_column_strategy

    internal = _normalize_column_strategy(dict(cols))
    inverted: dict[str, list[str]] = {}
    for c, s in cols.items():
        inverted.setdefault(s, []).append(c)
    assert _normalize_column_strategy(inverted) == internal


# ASCII-only corpus texts: Java's \s (Spark) and Python's \s differ on
# unicode whitespace, and the property oracle below re-tokenizes in Python.
CORPUS_TEXT = st.one_of(
    st.text(alphabet="abcdef .#!x", min_size=0, max_size=80),
    # adversarial: heavy phrase repetition (the signals' raison d'être)
    st.lists(st.sampled_from(["spam ham", "a b c", "# ...", "x"]), min_size=1, max_size=12).map(" ".join),
)


@given(vals=st.lists(CORPUS_TEXT, min_size=1, max_size=25))
@FAST
def test_repetition_profile_matches_python_oracle(spark, vals):
    """Every repetition signal equals a pure-Python Counter oracle computed
    with the same micro-half-up arithmetic — for ANY ascii text, including
    empties, single tokens, and pathological repetition."""
    import math
    import re
    from collections import Counter

    from database_anonymiser_spark.operators.text import (
        REPETITION_THRESHOLDS,
        repetition_profile,
    )

    df = spark.createDataFrame(list(enumerate(vals)), "id long, text string")
    got = {r["id"]: r for r in repetition_profile(df, "id", "text").collect()}

    def frac(num, den):
        return math.floor((2 * num * 1_000_000 + den) / (2 * den)) / 1e6 if den > 0 else 0.0

    for i, v in enumerate(vals):
        # zero-real-token guard: blank text is NOT a single empty token
        toks = re.split(r"\s+", v.strip()) if v.strip() else []
        bi = [" ".join(toks[j : j + 2]) for j in range(len(toks) - 1)]
        tri = [" ".join(toks[j : j + 3]) for j in range(len(toks) - 2)]
        top = lambda a: max(Counter(a).values()) if a else 0
        dup = lambda a: len(a) - len(set(a))
        exp = {
            "top_token_frac": frac(top(toks), len(toks)),
            "top_2gram_frac": frac(top(bi), len(bi)),
            "dup_2gram_frac": frac(dup(bi), len(bi)),
            "dup_3gram_frac": frac(dup(tri), len(tri)),
            "symbol_word_ratio": frac(len(re.findall(r"#|\.\.\.", v)), len(toks)),
        }
        r = got[i]
        for k, want in exp.items():
            assert r[k] == want, f"{k} mismatch for {v!r}: {r[k]} != {want}"
        want_gate = any(exp[k] > thr for k, thr in REPETITION_THRESHOLDS.items())
        assert r["repetitive"] == want_gate


@given(
    lens=st.lists(st.integers(1, 700), min_size=1, max_size=60),
    budget=st.integers(64, 512),
)
@FAST
def test_pack_sequences_invariants_hold_for_any_lengths(spark, lens, budget):
    """For ANY token-length distribution and budget: every doc packed
    exactly once, no bin exceeds the budget unless it holds one over-budget
    doc, and bins fill densely (a doc opens a new bin only because it would
    not fit — greedy's no-gratuitous-split property)."""
    from database_anonymiser_spark.operators.text import pack_sequences

    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(lens)], "doc_id long, n_tokens long"
    )
    rows = pack_sequences(df, "doc_id", "n_tokens", budget=budget, n_shards=4).collect()
    assert sorted(r["doc_id"] for r in rows) == list(range(len(lens)))
    bins: dict[int, list] = {}
    for r in rows:
        bins.setdefault(r["seq_id"], []).append(r)
    for seq_id, members in bins.items():
        total = sum(m["n_tokens"] for m in members)
        assert total <= budget or len(members) == 1
        # greedy density: the first doc of the NEXT bin in this shard would
        # not have fit into this bin
        nxt = bins.get(seq_id + 1)
        if nxt and members:
            first_next = min(nxt, key=lambda m: m["seq_pos"])
            assert total + first_next["n_tokens"] > budget


# line-structured ASCII corpus: C4/line-dedup operate per line
LINE_TEXT = st.lists(
    st.sampled_from(
        [
            "This sentence has enough words.",
            "Too short.",
            "no terminal punctuation here at all",
            "",
            "   ",
            "Shared footer line appears everywhere.",
            'Quoted ending works fine."',
            "One two three four.",
        ]
    ),
    min_size=0,
    max_size=6,
).map("\n".join)


@given(vals=st.lists(LINE_TEXT, min_size=1, max_size=12))
@FAST
def test_c4_clean_matches_python_oracle(spark, vals):
    """c4_clean's kept-line count, boilerplate flag, and cleaned text equal
    a pure-Python rendition of the same rules for ANY line composition."""
    import re

    from database_anonymiser_spark.operators.text import (
        C4_MIN_LINE_WORDS,
        C4_TERMINAL_RE,
        c4_clean,
    )

    df = spark.createDataFrame(list(enumerate(vals)), "id long, text string")
    got = {r["id"]: r for r in c4_clean(df, "id", "text").collect()}
    for i, v in enumerate(vals):
        lines = v.split("\n")
        kept = [
            ln
            for ln in lines
            if re.search(r"\S", ln)
            and len(re.split(r"\s+", ln.strip(" "))) >= C4_MIN_LINE_WORDS
            and re.search(C4_TERMINAL_RE, ln)
        ]
        r = got[i]
        assert r["c4_n_lines"] == len(lines)
        assert r["c4_kept_lines"] == len(kept)
        assert r["c4_text"] == "\n".join(kept)
        assert r["c4_boilerplate"] == ("{" in v or "lorem ipsum" in v.lower())


@given(
    texts=st.lists(LINE_TEXT, min_size=1, max_size=10),
    min_docs=st.integers(2, 3),
)
@FAST
def test_line_dedup_matches_python_oracle(spark, texts, min_docs):
    """line_dedup equals the pure-Python rendition: a normalized line in
    >= min_docs distinct docs is dropped everywhere; blanks survive; order
    is preserved; empty docs keep their row."""
    import re
    from collections import defaultdict

    from database_anonymiser_spark.operators.dedup import line_dedup

    df = spark.createDataFrame(list(enumerate(texts)), "id long, text string")
    got = {r["id"]: r for r in line_dedup(df, "id", "text", min_docs=min_docs).collect()}

    def norm(ln):
        return re.sub(r"\s+", " ", ln.lower()).strip(" ")

    docs_per_key = defaultdict(set)
    for i, v in enumerate(texts):
        for ln in v.split("\n"):
            k = norm(ln)
            if re.search(r"\S", k):
                docs_per_key[k].add(i)
    hot = {k for k, d in docs_per_key.items() if len(d) >= min_docs}
    for i, v in enumerate(texts):
        lines = v.split("\n")
        kept = [ln for ln in lines if norm(ln) not in hot]
        r = got[i]
        assert r["text"] == "\n".join(kept) if kept else r["text"] == ""
        assert r["n_removed"] == len(lines) - len(kept)


@given(
    toks=st.lists(st.integers(1, 50), min_size=1, max_size=40),
    budget=st.integers(1, 600),
)
@FAST
def test_token_budget_sample_invariants(spark, toks, budget):
    """For ANY token distribution and budget: the admitted set meets the
    budget ('at least': total ≥ min(budget, group total)), removing the
    LAST admitted doc (in hash order) drops below budget, admission is a
    prefix of the deterministic hash order, and uncapped groups pass
    through whole."""
    from database_anonymiser_spark.operators.sampling import (
        _bucket,
        token_budget_sample,
    )

    rows = [(i, "g", n) for i, n in enumerate(toks)] + [(1000, "u", 7)]
    df = spark.createDataFrame(rows, "id long, src string, toks long")
    out = token_budget_sample(df, "id", "toks", "src", {"g": budget}, None)
    got = out.collect()
    g = sorted((r["id"], r["toks"]) for r in got if r["src"] == "g")
    assert [r["id"] for r in got if r["src"] == "u"] == [1000]  # uncapped

    order = [
        r["id"]
        for r in df.where(F.col("src") == "g")
        .select("id", _bucket("id", "budget-v1").alias("h"))
        .orderBy("h", "id")
        .collect()
    ]
    total = {i: t for i, t in enumerate(toks)}
    # expected: admit along hash order while the running total is < budget
    run, expected = 0, []
    for i in order:
        if run >= budget:
            break
        expected.append(i)
        run += total[i]
    assert sorted(i for i, _ in g) == sorted(expected)
    admitted_total = sum(t for _, t in g)
    assert admitted_total >= min(budget, sum(toks))


def test_token_budget_sample_deterministic_on_upsampled_copies(spark):
    """mixture_sample upsampling emits duplicate ids distinguished only by
    copy_idx; the budget window must admit the SAME (id, copy_idx) set at
    any partitioning (round-5 advice: without the copy_idx tiebreaker the
    ROWS-frame cumulative sum ordered ties arbitrarily, so which copy
    crossed the budget boundary could differ across runs)."""
    from database_anonymiser_spark.operators.sampling import (
        mixture_sample,
        token_budget_sample,
    )

    rows = [(i, "g", 10) for i in range(12)]
    df = spark.createDataFrame(rows, "id long, src string, toks long")
    up = mixture_sample(df, "id", "src", {"g": 3.0})  # 3 copies per id

    def admitted(parts):
        out = token_budget_sample(
            up.repartition(parts, "id"), "id", "toks", "src", {"g": 85}, None
        )
        return sorted((r["id"], r["copy_idx"]) for r in out.collect())

    a, b, c = admitted(1), admitted(7), admitted(32)
    assert a == b == c
    assert len(a) == 9  # 85 tokens at 10/doc-copy: 9th copy crosses


@given(
    keys=st.lists(st.integers(0, 500), min_size=1, max_size=120),
    k=st.sampled_from([4, 16, 256]),
)
@FAST
def test_kmv_matches_python_oracle(spark, keys, k):
    """kmv_distinct equals the pure-Python rendition of the estimator for
    ANY key multiset and sketch size: md5→60-bit hashes, k-th smallest
    distinct hash, (k-1)·2⁶⁰/h(k), exact below k."""
    import hashlib

    from database_anonymiser_spark.operators.sketch import kmv_distinct

    df = spark.createDataFrame([(x, "g") for x in keys], "key long, g string")
    row = kmv_distinct(df, "key", ("g",), k=k).first()

    hashes = sorted({int(hashlib.md5(str(x).encode()).hexdigest()[:15], 16)
                     for x in keys})
    nd = len(hashes)
    if nd < k:
        want = float(nd)
    else:
        want = round((k - 1) * float(2**60) / hashes[k - 1], 6)
    assert row["exact_distinct"] == nd
    assert row["kmv_distinct_est"] == want


@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff"]),
            min_size=0,
            max_size=20,
        ).map(" ".join),
        min_size=2,
        max_size=8,
    ),
    k=st.integers(2, 4),
)
@FAST
def test_dup_spans_matches_python_oracle(spark, texts, k):
    """dup_spans == the plain-Python rendition on generated corpora: window
    sets, the ≥2-distinct-docs hot filter, and the overlap-merged cover."""
    from database_anonymiser_spark.operators.dedup import dup_spans

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in dup_spans(df, "doc_id", "text", k=k).collect()}

    # python twin (window CONTENT, not hash — md5 is collision-free here)
    wins = {}
    for i, t in rows:
        toks = t.strip().split() if t.strip() else [""]
        wins[i] = [tuple(toks[j : j + k]) for j in range(len(toks) - k + 1)]
    from collections import defaultdict

    docs_of = defaultdict(set)
    for i, ws in wins.items():
        for w in ws:
            docs_of[w].add(i)
    for i, t in rows:
        hot_pos = sorted(j for j, w in enumerate(wins[i]) if len(docs_of[w]) >= 2)
        cover, prev = 0, None
        for p in hot_pos:
            cover += k if prev is None else min(k, p - prev)
            prev = p
        n_tokens = len(t.strip().split()) if t.strip() else 1
        exp_frac = (
            ((2 * cover * 1_000_000 + n_tokens) // (2 * n_tokens)) / 1_000_000.0
            if n_tokens
            else 0.0
        )
        assert got[i]["n_windows"] == len(wins[i])
        assert got[i]["n_dup_windows"] == len(hot_pos)
        assert got[i]["dup_tokens"] == cover
        assert got[i]["dup_frac"] == exp_frac


@given(
    build=st.lists(st.integers(0, 500), min_size=1, max_size=40),
    probe=st.lists(st.integers(0, 500), min_size=1, max_size=60),
)
@FAST
def test_bloom_matches_python_twin(spark, build, probe):
    """bloom_semi_join == the plain-Python rendition of the same md5 hash
    family at a deliberately TINY m (forcing collisions): identical pass
    set including every false positive, and never a false negative."""
    import hashlib

    from database_anonymiser_spark.operators.bloom import bloom_semi_join

    m, kh = 256, 3
    bdf = spark.createDataFrame([(v,) for v in set(build)], "k long")
    pdf = spark.createDataFrame(list(enumerate(probe)), "rid long, k long")
    got = {
        (r["rid"], r["k"])
        for r in bloom_semi_join(pdf, "k", bdf, "k", m_bits=m, k_hashes=kh).collect()
    }

    def positions(v):
        h = int(hashlib.md5(f"bloom:{v}".encode()).hexdigest()[:15], 16)
        h1, h2 = h % (1 << 30), (h >> 30) * 2 + 1
        return {(h1 + i * h2) % m for i in range(kh)}

    bits = set()
    for v in set(build):
        bits |= positions(v)
    expected = {
        (rid, v) for rid, v in enumerate(probe) if positions(v) <= bits
    }
    assert got == expected
    assert {(rid, v) for rid, v in enumerate(probe) if v in set(build)} <= got


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 200), st.one_of(st.none(), st.floats(-100, 100, allow_nan=False))),
        min_size=1,
        max_size=25,
        unique_by=lambda t: t[0],
    ),
    thresh=st.floats(-50, 50, allow_nan=False),
    use_prune=st.booleans(),
)
@FAST
def test_versioned_update_delete_match_python_twin(spark, tmp_path_factory, rows, thresh, use_prune):
    """update_where / delete_where == the plain-Python rendition of SQL
    UPDATE/DELETE semantics (NULL predicate rows untouched / surviving),
    with and without a stats prune range — pruning may only change WHICH
    files rewrite, never the row set."""
    from database_anonymiser_spark.sources.versioned import VersionedTable

    root = tmp_path_factory.mktemp("vt")
    df = spark.createDataFrame(rows, "k long, v double")
    t = VersionedTable.create(spark, root / "t", df, key_col="k")
    prune = {"k": (0, 100)} if use_prune else None
    pred = (F.col("v") < thresh) & (F.col("k") <= 100)

    t.update_where({"v": F.col("v") + 1000.0}, pred, prune=prune)
    got = {r["k"]: r["v"] for r in t.snapshot().collect()}
    want = {
        k: (v + 1000.0 if (v is not None and v < thresh and k <= 100) else v)
        for k, v in rows
    }
    assert got == want

    t.delete_where(pred, prune=prune)
    got2 = {r["k"]: r["v"] for r in t.snapshot().collect()}
    want2 = {
        k: v
        for k, v in want.items()
        if not (v is not None and v < thresh and k <= 100)
    }
    assert got2 == want2


@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(
                whitelist_categories=("Ll", "Lu", "Nd", "Po", "Zs")
            ),
            min_size=0,
            max_size=60,
        ),
        min_size=1,
        max_size=12,
    ),
    n_merges=st.integers(0, 12),
)
@FAST
def test_bpe_roundtrip_and_determinism_property(spark, texts, n_merges):
    """For ANY corpus: (a) training is deterministic under repartition;
    (b) tokenizing with the learned table round-trips — concatenating a
    doc's tokens equals the concatenation of its lowercased regex
    pieces; (c) every token is non-empty."""
    import re

    from database_anonymiser_spark.operators.text import BPE_PIECE_RE
    from database_anonymiser_spark.operators.tokenizer import apply_bpe, train_bpe

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges = train_bpe(df, "text", n_merges)
    assert merges == train_bpe(df.repartition(5), "text", n_merges)
    # re.ASCII: the reference must use the engine's semantics — \s is
    # ASCII under Java regex/RE2, so a U+00A0 IS a piece (the round-10
    # parity fix; hypothesis found the divergence with a NBSP text)
    piece_re = re.compile(BPE_PIECE_RE, re.ASCII)
    got = apply_bpe(df, "doc_id", "text", merges, emit_tokens=True).collect()
    for r in got:
        toks = list(r["bpe_tokens"])
        assert all(toks), toks
        want = "".join(piece_re.findall(texts[r["doc_id"]].lower()))
        assert "".join(toks) == want


@given(
    vals=st.lists(
        st.one_of(st.none(), st.integers(-1000, 1000)), min_size=1, max_size=50
    ),
    probe=st.sampled_from(["isnull", "notnull"]),
)
@settings(max_examples=40, deadline=None)
def test_nullness_matcher_is_one_sided_sound(tmp_path_factory, vals, probe):
    """Round-12 null_count skipping soundness: for ANY column content,
    a file pruned by the nullness matcher provably holds NO row the
    predicate matches — pruning may only ever drop provably-empty
    files. Pure pyarrow + the pure matcher, no Spark."""
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from database_anonymiser_spark.sources.versioned import (
        _entry_matches_nullness,
        _footer_col_stats,
    )

    d = tmp_path_factory.mktemp("np")
    fp = d / f"{_uuid.uuid4().hex}.parquet"
    pq.write_table(pa.table({"v": pa.array(vals, pa.int64())}), str(fp))
    lo, hi, nc = _footer_col_stats(fp, "v")
    entry = {"stats": {"v": [lo, hi, nc]}, "num_rows": len(vals)}
    kept = _entry_matches_nullness(entry, "v", probe)
    matches = (
        any(v is None for v in vals)
        if probe == "isnull"
        else any(v is not None for v in vals)
    )
    if matches:
        assert kept  # soundness: a matching file is NEVER pruned
    # (a non-matching file MAY be kept — conservative is allowed)
    # and with stats unknown, everything is must-scan
    assert _entry_matches_nullness({"stats": {}}, "v", probe)


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 8), st.integers(0, 8)),
        min_size=1, max_size=40,
    ),
    probes=st.lists(
        st.tuples(st.integers(0, 8), st.integers(0, 8)),
        min_size=1, max_size=6,
    ),
)
@settings(max_examples=40, deadline=None)
def test_tuple_bloom_never_prunes_a_present_tuple(tmp_path_factory, rows, probes):
    """Round-12 tuple-bloom soundness: a probe tuple actually PRESENT in
    the file always survives the sidecar test (false positives only,
    never false negatives)."""
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from database_anonymiser_spark.sources.versioned import (
        _bloom_hashes,
        _bloom_ref_matches_any,
        _bloom_sidecars_for,
        _tuple_render,
    )

    root = tmp_path_factory.mktemp("tb")
    fp = root / f"{_uuid.uuid4().hex}.parquet"
    pq.write_table(
        pa.table({
            "a": pa.array([r[0] for r in rows], pa.int64()),
            "b": pa.array([r[1] for r in rows], pa.int64()),
        }),
        str(fp),
    )
    refs = _bloom_sidecars_for(root, fp, ("a,b",))
    assert refs and "a,b" in refs
    present = set(rows)
    for t in probes:
        hp = [_bloom_hashes(_tuple_render(t))]
        kept = _bloom_ref_matches_any(root, refs["a,b"], hp)
        if t in present:
            assert kept  # soundness: present tuples always survive
