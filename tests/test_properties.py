"""Property-based tests (hypothesis): invariants that must hold for any
input, not just the fixtures.

- positional IDs: for ANY dataset, IDs are exactly 1..n and follow the
  declared sort order (the distributed offset machinery reproduces a
  driver-side enumerate — elastic_controller.go:204 semantics).
- canonical envelope: int64 round-trips exactly at any magnitude (the
  reference's float64 coercion loses >2^53 — SURVEY.md §1.2).
- plan gate: no SELECT-wrapping of a command sneaks through, and
  whitespace/case/comment noise never flips a verdict.
"""

from __future__ import annotations

import json

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

import pytest

from golang_db_query_engine_elasticsearch_indexer_spark.errors import (
    UnauthorizedOperationError,
)
from golang_db_query_engine_elasticsearch_indexer_spark.indexer import (
    with_positional_ids,
)
from golang_db_query_engine_elasticsearch_indexer_spark.plans import (
    assert_select_only,
)
from golang_db_query_engine_elasticsearch_indexer_spark.result import (
    rows_to_documents,
)

_SLOW = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@_SLOW
@given(
    vals=st.lists(
        st.tuples(st.integers(-1000, 1000), st.text("abc", min_size=0, max_size=3)),
        min_size=1,
        max_size=60,
    ),
    nparts=st.integers(1, 7),
)
def test_positional_ids_enumerate_any_dataset(spark, vals, nparts):
    df = spark.createDataFrame(vals, "k long, s string").repartition(nparts)
    got = with_positional_ids(df, order_cols=["k", "s"]).collect()
    assert sorted(r["_id"] for r in got) == list(range(1, len(vals) + 1))
    by_id = sorted(got, key=lambda r: r["_id"])
    assert [(r.k, r.s) for r in by_id] == sorted(vals)


@given(n=st.integers(min_value=-(2**62), max_value=2**62))
@settings(max_examples=200, deadline=None)
def test_int64_exact_in_documents(n):
    doc = rows_to_documents([{"v": n}])[0]
    assert json.loads(doc)["v"] == n


_COMMANDS = [
    "DROP TABLE t",
    "DELETE FROM t WHERE id IN (SELECT id FROM u)",
    "INSERT INTO t SELECT * FROM u",
    "CREATE TABLE t AS SELECT 1",
    "UPDATE t SET x = (SELECT max(y) FROM u)",
    "MERGE INTO t USING u ON t.id = u.id WHEN MATCHED THEN DELETE",
    "TRUNCATE TABLE t",
    "WITH x AS (SELECT 1) INSERT INTO t SELECT * FROM x",
]


@_SLOW
@given(
    cmd=st.sampled_from(_COMMANDS),
    lead_ws=st.text(" \t\n", max_size=3),
    comment=st.booleans(),
)
def test_gate_rejects_commands_under_noise(spark, cmd, lead_ws, comment):
    sql = lead_ws + ("/* select */ " if comment else "") + cmd
    with pytest.raises(UnauthorizedOperationError):
        assert_select_only(spark, sql)


_READS = [
    "SELECT 1",
    "Select * from region",
    "sElEcT r_name FROM region WHERE r_comment = 'insert into'",
    "WITH x AS (SELECT 1 AS a) SELECT * FROM x",
    "VALUES (1, 'a'), (2, 'b')",
    "(SELECT 1) UNION ALL (SELECT 2)",
]


@_SLOW
@given(q=st.sampled_from(_READS), lead_ws=st.text(" \t\n", max_size=3))
def test_gate_accepts_reads_under_noise(spark, tables, q, lead_ws):
    assert_select_only(spark, lead_ws + q)  # must not raise


@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(n_tokens=st.integers(min_value=1, max_value=120))
def test_chunk_window_math_model(n_tokens):
    """Pure-Python model of the chunk_windows grid (starts, lengths,
    coverage) for ANY token count — the SQL implements exactly this:
    starts at 1, 1+STRIDE, ... <= n; window length min(CHUNK, n-s+1);
    stride < chunk => contiguous total coverage ending at n."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.chunking import (
        CHUNK,
        STRIDE,
    )

    starts = list(range(1, n_tokens + 1, STRIDE))
    lengths = [min(CHUNK, n_tokens - s + 1) for s in starts]
    assert starts[0] == 1
    assert all(ln >= 1 for ln in lengths)
    covered = set()
    for s, ln in zip(starts, lengths):
        covered.update(range(s, s + ln))
    assert covered == set(range(1, n_tokens + 1))  # total coverage, no gaps
    assert starts[-1] + lengths[-1] - 1 == n_tokens


@settings(max_examples=200, deadline=None)
@given(a=st.integers(0, 65535), b=st.integers(0, 65535))
def test_simhash_banding_pigeonhole_model(a, b):
    """Pure model of the dedup_simhash_pairs banding guarantee: for ANY
    two 16-bit fingerprints within Hamming distance SIMHASH_HAMMING_MAX
    (3), at least one of the 4 4-bit bands is identical (3 differing
    bits cannot touch 4 disjoint bands) — so the banded equi-join loses
    no qualifying pair at any corpus size."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.dedup import (
        SIMHASH_BAND_BITS,
        SIMHASH_HAMMING_MAX,
        SIMHASH_N_BANDS,
    )

    mask = (1 << SIMHASH_BAND_BITS) - 1
    hamming = bin(a ^ b).count("1")
    bands_equal = any(
        (a >> (j * SIMHASH_BAND_BITS)) & mask == (b >> (j * SIMHASH_BAND_BITS)) & mask
        for j in range(SIMHASH_N_BANDS)
    )
    if hamming <= SIMHASH_HAMMING_MAX:
        assert bands_equal


@settings(max_examples=100, deadline=None)
@given(
    vals=st.lists(st.integers(0, 10_000), min_size=1, max_size=300),
    q=st.sampled_from([0.5, 0.9, 0.99]),
)
def test_histogram_quantile_bin_model(vals, q):
    """Pure model of sketch_histogram_quantiles' integer binning: for
    ANY value multiset, every bin index lands in [0, B-1], and the
    first bin whose cumulative count reaches rank ceil(q*n) is exactly
    the bin containing the true rank statistic — so the interpolation
    error is bounded by one bin width by construction."""
    import math

    from golang_db_query_engine_elasticsearch_indexer_spark.inventory import _HQ_BINS

    lo, hi, n = min(vals), max(vals), len(vals)
    width = hi - lo + 1

    def binof(v: int) -> int:
        return ((v - lo) * _HQ_BINS) // width

    assert all(0 <= binof(v) < _HQ_BINS for v in vals)
    rk = math.ceil(q * n)
    exact = sorted(vals)[rk - 1]
    cum = 0
    for b in range(_HQ_BINS):
        cum += sum(1 for v in vals if binof(v) == b)
        if cum >= rk:
            picked = b
            break
    assert picked == binof(exact)


@settings(max_examples=50, deadline=None)
@given(toks=st.lists(st.sampled_from("abcdefgh"), min_size=1, max_size=200))
def test_cms_overestimate_model(toks):
    """Pure model of sketch_cms_heavy_hitters with the SAME md5 hash
    family as the SQL: for ANY token multiset, the count-min estimate
    (min over the d row counters) is >= the true count of every term —
    collisions only ever add."""
    import hashlib
    from collections import Counter

    from golang_db_query_engine_elasticsearch_indexer_spark.inventory import (
        _CMS_D,
        _CMS_W,
    )

    def bucket(r: int, w: str) -> int:
        return int(hashlib.md5(f"cms{r}:{w}".encode()).hexdigest()[:4], 16) % _CMS_W

    cells = Counter()
    for w in toks:
        for r in range(_CMS_D):
            cells[(r, bucket(r, w))] += 1
    exact = Counter(toks)
    for w, c in exact.items():
        est = min(cells[(r, bucket(r, w))] for r in range(_CMS_D))
        assert est >= c


@settings(max_examples=200, deadline=None)
@given(
    syms=st.lists(
        st.text(alphabet="abc", min_size=1, max_size=3),
        min_size=1,
        max_size=10,
    ),
    data=st.data(),
)
def test_bpe_double_space_replace_model(syms, data):
    """The double-space/single-pad encoding makes plain str.replace an
    EXACT whole-symbol merge for ANY symbol sequence and ANY adjacent
    pair — including adjacent-occurrence chaining ('a a a a' under
    a+a) and the cross-boundary traps ('xa b' vs pair (a, b)). Both
    engines' replace and Python's share leftmost-non-overlapping
    semantics, so this models the SQL kernel in tokens_bpe_merge_learn."""
    pairs = list(zip(syms, syms[1:]))
    if not pairs:
        return
    lsym, rsym = data.draw(st.sampled_from(pairs))

    spaced = " " + "  ".join(syms) + " "
    replaced = spaced.replace(f" {lsym}  {rsym} ", f" {lsym}{rsym} ")
    got = replaced.strip().split("  ")

    # canonical list-based greedy left-to-right merge
    want, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and (syms[i], syms[i + 1]) == (lsym, rsym):
            want.append(lsym + rsym)
            i += 2
        else:
            want.append(syms[i])
            i += 1
    assert got == want


def _levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


@settings(max_examples=300, deadline=None)
@given(
    q=st.text(alphabet="abc", min_size=1, max_size=6),
    t=st.text(alphabet="abc", min_size=1, max_size=6),
)
def test_deletion_neighborhood_completeness_model(q, t):
    """SymSpell lemma behind search_fuzzy_terms: whenever
    levenshtein(q, t) <= 1, the distance-1 deletion neighborhoods of q
    and t intersect — so the variant equi-join can NEVER miss a true
    match (the join over-generates, e.g. transpositions, and the
    levenshtein verify then filters; completeness is the part that
    needs proof)."""
    def neighborhood(w):
        return {w} | {w[:i] + w[i + 1 :] for i in range(len(w))}

    if _levenshtein(q, t) <= 1:
        assert neighborhood(q) & neighborhood(t)


# --- ES filter-pushdown safety (sources/es_scroll.py) -----------------------

@st.composite
def _docs(draw):
    return {
        "s": draw(st.one_of(st.none(), st.text(alphabet="abxy", max_size=4))),
        "n": draw(st.one_of(st.none(), st.integers(-5, 5))),
        "f": draw(st.one_of(st.none(), st.floats(-5, 5, allow_nan=False))),
    }


@st.composite
def _spark_filters(draw):
    """(Filter, column, python_predicate) triples covering every
    translated clause shape; predicates use SQL semantics (NULL never
    matches a comparison)."""
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThan,
        GreaterThanOrEqual,
        In,
        IsNotNull,
        IsNull,
        StringContains,
        StringEndsWith,
        StringStartsWith,
        LessThan,
        LessThanOrEqual,
    )

    kind = draw(st.sampled_from(
        ["eq", "gt", "gte", "lt", "lte", "in", "null", "notnull",
         "starts", "ends", "contains"]
    ))
    if kind in ("starts", "ends", "contains"):
        v = draw(st.text(alphabet="abxy", min_size=1, max_size=2))
        cls = {"starts": StringStartsWith, "ends": StringEndsWith,
               "contains": StringContains}[kind]
        pred = {
            "starts": lambda x: isinstance(x, str) and x.startswith(v),
            "ends": lambda x: isinstance(x, str) and x.endswith(v),
            "contains": lambda x: isinstance(x, str) and v in x,
        }[kind]
        return cls(("s",), v), "s", pred
    col = draw(st.sampled_from(["s", "n", "f"]))
    if kind == "null":
        return IsNull((col,)), col, lambda x: x is None
    if kind == "notnull":
        return IsNotNull((col,)), col, lambda x: x is not None
    if col == "s":
        v = draw(st.text(alphabet="abxy", max_size=4))
    elif col == "n":
        v = draw(st.integers(-5, 5))
    else:
        v = draw(st.floats(-5, 5, allow_nan=False))
    if kind == "in":
        vs = (v,)
        return In((col,), vs), col, lambda x: x is not None and x in vs
    cls = {"eq": EqualTo, "gt": GreaterThan, "gte": GreaterThanOrEqual,
           "lt": LessThan, "lte": LessThanOrEqual}[kind]
    import operator
    op = {"eq": operator.eq, "gt": operator.gt, "gte": operator.ge,
          "lt": operator.lt, "lte": operator.le}[kind]
    return cls((col,), v), col, lambda x: x is not None and op(x, v)


@settings(max_examples=500, deadline=None)
@given(doc=_docs(), fp=_spark_filters())
def test_es_pushdown_clause_never_drops_matching_rows(doc, fp):
    """Pushdown-safety superset property: whenever the SQL predicate
    keeps a row, the translated ES clause must also keep it — pushdown
    may over-return (Spark re-filters; false positives only cost
    transfer) but must NEVER under-return (false negatives silently
    lose rows). The clause is evaluated with the stub\'s query-DSL
    evaluator over an ES-shaped _source (null fields absent), so the
    translation and the stub evaluator pin each other."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(__file__))
    from es_stub import _eval_query

    from golang_db_query_engine_elasticsearch_indexer_spark.sources.es_scroll import (
        _es_clause,
    )

    flt, col, pred = fp
    clause = _es_clause(flt, string_cols={"s"})
    if clause is None:
        return  # untranslatable filters are simply not pushed — safe
    if pred(doc[col]):
        src = {k: v for k, v in doc.items() if v is not None}
        assert _eval_query(clause, src), (flt, clause, src)


@settings(max_examples=300, deadline=None)
@given(
    data=st.binary(min_size=0, max_size=24),
    prior=st.binary(min_size=24, max_size=24),
    ftype=st.integers(0, 4),
    bpp=st.sampled_from([1, 3, 4]),
)
def test_png_filter_unfilter_inverse_model(data, prior, ftype, bpp):
    """PNG scanline filters are exact inverses for every filter type,
    pixel width, and byte content — the property the decoder's
    correctness rests on beyond the md5 fixtures."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.multimodal import (
        _filter_scanline,
        _unfilter_scanline,
    )

    cur = data[: (len(data) // bpp) * bpp]
    pri = prior[: len(cur)]
    filt = _filter_scanline(ftype, cur, pri, bpp)
    assert _unfilter_scanline(ftype, filt, pri, bpp) == cur


@settings(max_examples=200, deadline=None)
@given(
    idxs=st.lists(st.integers(0, 15), min_size=0, max_size=400),
    mcs=st.sampled_from([4]),
)
def test_gif_lzw_roundtrip_model(idxs, mcs):
    """LZW encode->pack->decode is the identity for arbitrary index
    sequences — the property the GIF decoder's correctness rests on
    beyond the md5 fixtures (KwKwK runs, width bumps, empty input)."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.multimodal import (
        _lzw_codes,
        _lzw_decode,
        _lzw_pack,
    )

    data = bytes(idxs)
    packed = _lzw_pack(mcs, _lzw_codes(mcs, data))
    assert _lzw_decode(mcs, packed, max(len(data), 1)) == data


@settings(max_examples=300, deadline=None)
@given(data=st.binary(min_size=0, max_size=64), mcs=st.integers(2, 8))
def test_gif_lzw_decoder_total_on_adversarial_streams(data, mcs):
    """The hand-rolled LZW decoder must be TOTAL on arbitrary bytes:
    either a clean ValueError (truncation, out-of-range code, missing
    EOI) or a bounded byte result — never a hang, IndexError, or
    output larger than the declared pixel budget."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.multimodal import (
        _lzw_decode,
    )

    try:
        out = _lzw_decode(mcs, data, 256)
    except ValueError:
        return
    assert isinstance(out, bytes) and len(out) <= 256


@settings(max_examples=300, deadline=None)
@given(data=st.binary(min_size=0, max_size=96))
def test_gif_container_parser_total_on_adversarial_bytes(data):
    """Same totality property for the container walker: random bytes
    (with and without a valid magic prefix) either raise ValueError or
    parse to a structurally valid image tuple."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.multimodal import (
        _parse_gif,
    )

    for payload in (data, b"GIF89a" + data):
        try:
            w, h, nc, pal, px = _parse_gif(payload)
        except ValueError:
            continue
        assert len(px) == w * h and len(pal) == 3 * nc


@settings(max_examples=300, deadline=None)
@given(data=st.binary(min_size=0, max_size=96))
def test_png_parser_total_on_adversarial_bytes(data):
    """Totality for the PNG walker too: arbitrary bytes — bare, with a
    valid signature, or with a CRC-stamped garbage-IDAT chunk — raise
    ValueError or parse to a structurally valid image; struct.error and
    zlib.error must never escape."""
    import struct
    import zlib

    from golang_db_query_engine_elasticsearch_indexer_spark.operators.multimodal import (
        _PNG_SIG,
        _parse_png,
    )

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body))
        )

    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
    payloads = (
        data,
        _PNG_SIG + data,
        # well-formed chunk frame, adversarial contents: CRC-consistent
        # garbage IDAT and a truncated IHDR body
        _PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", data) + chunk(b"IEND", b""),
        _PNG_SIG + chunk(b"IHDR", data[:7]) + chunk(b"IEND", b""),
    )
    for payload in payloads:
        try:
            w, h, ch, px = _parse_png(payload)
        except ValueError:
            continue
        assert len(px) == w * h * ch


@given(text=st.text(min_size=1, max_size=300))
@settings(max_examples=60, deadline=None)
def test_pdf_roundtrip_any_text(text):
    """Build -> parse returns the input text exactly for ANY unicode
    payload (escaping, pagination, Tj/TJ alternation all inverted)."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.multimodal import (
        PDF_PAGE_CHARS,
        _build_pdf,
        _parse_pdf,
    )

    pages = _parse_pdf(_build_pdf(text))
    assert "".join(pages) == text
    assert len(pages) == (len(text) + PDF_PAGE_CHARS - 1) // PDF_PAGE_CHARS


@given(data=st.binary(min_size=0, max_size=400))
@settings(max_examples=60, deadline=None)
def test_pdf_parser_total_on_adversarial_bytes(data):
    """The PDF reader must raise ValueError (never crash, hang, or
    mis-return) on arbitrary bytes — with or without a plausible
    header/startxref frame."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.multimodal import (
        _parse_pdf,
    )

    for payload in (
        data,
        b"%PDF-1.4\n" + data,
        b"%PDF-1.4\n" + data + b"\nstartxref\n9\n%%EOF\n",
    ):
        try:
            pages = _parse_pdf(payload)
        except ValueError:
            continue
        assert isinstance(pages, list)


@given(data=st.binary(min_size=0, max_size=500))
@settings(max_examples=150, deadline=None)
def test_packbits_roundtrip_any_bytes(data):
    """PackBits encode -> decode is the identity for ANY byte string
    (runs, literals, 128-boundaries, empty input)."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.multimodal import (
        _packbits_decode,
        _packbits_encode,
    )

    assert _packbits_decode(_packbits_encode(data)) == data


@given(data=st.binary(min_size=0, max_size=300))
@settings(max_examples=60, deadline=None)
def test_tiff_parser_total_on_adversarial_bytes(data):
    """The TIFF reader raises ValueError (never crashes or hangs) on
    arbitrary bytes, with or without a plausible header frame."""
    import struct

    from golang_db_query_engine_elasticsearch_indexer_spark.operators.multimodal import (
        _parse_tiff,
    )

    for payload in (
        data,
        b"II" + struct.pack("<HI", 42, 8) + data,
        b"MM" + struct.pack(">HI", 42, 8) + data,
    ):
        try:
            w, h, ch, comp, px = _parse_tiff(payload)
        except ValueError:
            continue
        assert len(px) == w * h * ch


@given(text=st.text(
    st.characters(
        codec="utf-8",
        # XML 1.0 Char production: the builder (correctly) refuses
        # control characters, so the roundtrip domain excludes them
        exclude_categories=("Cc", "Cs"),
        include_characters="\t\n\r",
    ),
    min_size=1,
    max_size=300,
))
@settings(max_examples=60, deadline=None)
def test_docx_roundtrip_any_text(text):
    """Build -> parse returns the input text exactly for ANY
    XML-representable unicode payload (escaping, whitespace
    preservation, slicing)."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.multimodal import (
        _build_docx,
        _parse_docx,
    )

    paras, _ = _parse_docx(_build_docx(text))
    assert "".join(paras) == text


@given(
    doc_id=st.integers(0, 10_000),
    text=st.text(
        st.characters(codec="utf-8", exclude_categories=("Cc", "Cs")),
        min_size=1,
        max_size=300,
    ),
)
@settings(max_examples=60, deadline=None)
def test_html_roundtrip_any_text(doc_id, text):
    """Build -> extract recovers exactly the content text (entity
    escaping inverted, zero chrome/script leakage) for any printable
    unicode payload."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.multimodal import (
        _build_html,
        _parse_html,
    )

    title, blocks = _parse_html(_build_html(doc_id, text))
    assert title == f"doc {doc_id}"
    assert "".join(blocks) == text


@given(text=st.text(
    st.characters(codec="utf-8", exclude_categories=("Cc", "Cs"),
                  include_characters="\t\n"),
    min_size=1,
    max_size=300,
))
@settings(max_examples=60, deadline=None)
def test_xlsx_roundtrip_any_text(text):
    """Build -> parse recovers the text through the shared-strings
    indirection for any XML-representable payload."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.multimodal import (
        _build_xlsx,
        _parse_xlsx,
    )

    rows, _ = _parse_xlsx(_build_xlsx(text))
    assert "".join(v for r in rows for v in r if isinstance(v, str)) == text


@settings(max_examples=400, deadline=None)
@given(
    q=st.lists(
        st.sampled_from(
            list("abcxyz_0123456789 |=<>!\"'()*?%,.+-/")
            + ["FROM ", " WHERE ", " STATS ", " EVAL ", " SORT ",
               " LIMIT ", " KEEP ", " BY ", "COUNT", "AVG",
               " LIKE ", " AND ", " OR ",
               # r11 grammar: sources, metadata, MV/date/scalar tier
               "ROW ", " METADATA _index", " ENRICH ", " ON ",
               " WITH ", "MV_SORT", "MV_SLICE", "MV_DEDUPE", "SPLIT",
               "PERCENTILE", "DATE_DIFF", "DATE_FORMAT", " NULLS ",
               " FIRST", " LAST", "GREATEST", "CEIL",
               # r12 grammar: tech-preview commands + the agg tier
               " SAMPLE ", " CHANGE_POINT ", " FORK ", " AS ",
               "TOP", "VALUES", "WEIGHTED_AVG", " ON "]
        ),
        min_size=0,
        max_size=24,
    )
)
def test_esql_compiler_totality_and_purity(q):
    """The ES|QL compiler is TOTAL over arbitrary input (compiles or
    raises ValueError — never any other exception escapes the
    lexer/parser) and PURE (same input -> byte-identical SQL in both
    dialects across calls)."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.esql import (
        compile_esql,
    )

    text = "".join(q) if isinstance(q, list) else q
    for dialect in ("spark", "duck"):
        try:
            first = compile_esql(text, dialect)
        except ValueError:
            continue
        assert first == compile_esql(text, dialect)
        assert first.lstrip().upper().startswith("SELECT")


@settings(max_examples=200, deadline=None)
@given(
    parts=st.lists(
        st.sampled_from([
            "FROM documents",
            'WHERE lang == "en"',
            "WHERE n_chars > 100",
            "EVAL k = n_chars / 1000",
            "STATS n = COUNT(*) BY lang",
            "SORT doc_id",
            "SORT n_chars DESC NULLS LAST",
            "LIMIT 5",
            "KEEP doc_id, lang",
            'STATS en = COUNT(*) WHERE lang == "en"',
            "EVAL b = CEIL(n_chars / 100)",
            # r12 stages
            "SAMPLE 0.5 ON doc_id 3",
            "CHANGE_POINT n_chars ON doc_id",
            'STATS t = TOP(lang, 2, "asc"), v = VALUES(lang)',
            "STATS w = WEIGHTED_AVG(n_chars, doc_id)",
            "FORK (LIMIT 3) (LIMIT 2)",
        ]),
        min_size=1,
        max_size=6,
    )
)
def test_esql_random_pipelines_compile_or_reject(parts):
    """Random compositions of VALID stages either compile (when they
    start with FROM) or raise ValueError (when they don't) — stage
    order never crashes the compiler."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.esql import (
        compile_esql,
    )

    text = " | ".join(parts)
    try:
        sql = compile_esql(text, "duck")
    except ValueError:
        assert not parts[0].startswith("FROM") or True
        return
    assert parts[0] == "FROM documents"
    assert "SELECT" in sql


@given(
    rows=st.lists(
        st.tuples(
            st.one_of(st.none(), st.text(max_size=12)),
            st.one_of(st.none(), st.text(max_size=12)),
        ),
        min_size=1,
        max_size=30,
        unique=True,
    )
)
@settings(max_examples=30, deadline=None)
def test_union_uid_injective_on_distinct_rows(rows):
    """_uid is injective over DISTINCT rows for ANY string/NULL
    content — delimiter characters, values equal to the NULL
    sentinel, empty strings, unicode — because each column
    contributes an unambiguous token ('n' vs 'v'||md5). The r13
    self-review found the bare-concat form violated exactly this
    (('a|b','c') == ('a','b|c')); this property pins the class."""
    import duckdb
    from pyspark.sql import types as T

    from golang_db_query_engine_elasticsearch_indexer_spark.operators.esql import (
        union_all_sql,
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE pt (c1 VARCHAR, c2 VARCHAR)")
    con.executemany("INSERT INTO pt VALUES (?, ?)", rows)
    schema = T.StructType([
        T.StructField("c1", T.StringType()),
        T.StructField("c2", T.StringType()),
    ])
    try:
        sql = union_all_sql({"pt": schema}, uid=True)
        uids = [r[0] for r in con.execute(
            f"SELECT _uid FROM ({sql})").fetchall()]
        assert len(set(uids)) == len(rows)
        assert all(u for u in uids)
    finally:
        con.close()
