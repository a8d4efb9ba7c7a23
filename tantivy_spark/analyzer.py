"""The default text analyzer, in three parity-tested forms.

Reference chain (``/root/reference/src/tokenizer/tokenizer_manager.rs:59-65``):
``SimpleTokenizer`` (split on runs of non-alphanumeric chars,
simple_tokenizer.rs:30-55) -> ``RemoveLongFilter::limit(40)`` (drop tokens
whose UTF-8 byte length >= 40, remove_long.rs:35-37) -> ``LowerCaser``.

Token *positions* are assigned by the tokenizer before filtering, so
surviving tokens keep their original ordinals (gaps where long tokens were
dropped).  The fieldnorm is the number of tokens *after* filtering
(segment_writer.rs:294-296).

Character-class note: Rust ``char::is_alphanumeric`` is
``Alphabetic || {Nd,Nl,No}``.  We use the Unicode class ``[\\p{L}\\p{N}]``
(letters + numbers) as the canonical cross-engine definition — identical on
every ASCII/Latin corpus and expressible in Java regex (Spark), RE2
(DuckDB), and Python ``regex``-free form; the delta (a handful of
Other_Alphabetic marks) is outside our corpus and documented here.

Three implementations, asserted equal in tests/test_analyzer.py:

1. :func:`tokens_col` — pure JVM Catalyst expression (regexp_extract_all +
   filter + lower).  Whole-stage-codegen'd; the hot path for index builds.
2. :func:`tokenize_series` — Arrow/pandas vectorized, for use inside
   applyInPandas kernels that already hold pandas data.
3. :func:`duckdb_tokens_sql` — the same chain as a DuckDB SQL fragment,
   for oracle queries.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from tantivy_spark import MAX_TOKEN_BYTES

# Java regex (Spark side).  \p{L}\p{N} == Unicode letters + numbers.
JAVA_TOKEN_PATTERN = r"[\p{L}\p{N}]+"
# RE2 (DuckDB side) — same class syntax.
RE2_TOKEN_PATTERN = r"[\p{L}\p{N}]+"
# Python re: no \p classes; [^\W_] == alnum-without-underscore, which equals
# [\p{L}\p{N}] up to Python-vs-Unicode-property edge cases outside our corpora.
PY_TOKEN_RE = re.compile(r"[^\W_]+", re.UNICODE)


# ---------------------------------------------------------------------------
# 1. JVM expression form (the fast path)
# ---------------------------------------------------------------------------

def raw_tokens_col(text: Column) -> Column:
    """All alphanumeric runs, in order, pre-filter (positions = array index)."""
    return F.regexp_extract_all(text, F.lit(JAVA_TOKEN_PATTERN), 0)


def tokens_col(text: Column) -> Column:
    """Analyzer output: lowercased surviving tokens (positions dropped)."""
    return F.transform(
        F.filter(raw_tokens_col(text), lambda t: F.octet_length(t) < MAX_TOKEN_BYTES),
        F.lower,
    )


def tokens_with_positions_col(text: Column) -> Column:
    """array<struct<token:string, pos:int>> with pre-filter ordinals."""
    raw = raw_tokens_col(text)
    indexed = F.transform(
        raw, lambda t, i: F.struct(F.lower(t).alias("token"), i.alias("pos"),
                                   F.octet_length(t).alias("_blen"))
    )
    kept = F.filter(indexed, lambda s: s["_blen"] < MAX_TOKEN_BYTES)
    return F.transform(kept, lambda s: F.struct(s["token"].alias("token"), s["pos"].alias("pos")))


def fieldnorm_col(text: Column) -> Column:
    """Token count after filtering (the fieldnorm); 0 for null text."""
    return F.size(tokens_col(F.coalesce(text, F.lit(""))))


# ---------------------------------------------------------------------------
# 2. pandas form (inside Arrow kernels)
# ---------------------------------------------------------------------------

def tokenize_series(texts: pd.Series) -> pd.Series:
    """Series[str] -> Series[list[str]] of lowercased surviving tokens."""
    raw = texts.fillna("").str.findall(PY_TOKEN_RE)
    return raw.map(
        lambda toks: [t.lower() for t in toks if len(t.encode("utf-8")) < MAX_TOKEN_BYTES]
    )


def tokenize_with_positions_series(texts: pd.Series) -> pd.Series:
    """Series[str] -> Series[list[(token, pos)]] with pre-filter ordinals."""
    raw = texts.fillna("").str.findall(PY_TOKEN_RE)
    return raw.map(
        lambda toks: [
            (t.lower(), i)
            for i, t in enumerate(toks)
            if len(t.encode("utf-8")) < MAX_TOKEN_BYTES
        ]
    )


# ---------------------------------------------------------------------------
# Tokenizer / filter registry (ref: src/tokenizer/tokenizer_manager.rs —
# named analyzers "raw", "default", "whitespace", plus the specialty
# tokenizers and filters; all as JVM Column expressions)
# ---------------------------------------------------------------------------

def raw_analyzer(text: Column) -> Column:
    """Whole value as a single token (ref: raw_tokenizer.rs)."""
    return F.when(F.length(text) > 0, F.array(text)).otherwise(
        F.array().cast("array<string>"))


def whitespace_analyzer(text: Column) -> Column:
    """Split on whitespace runs, no lowercasing
    (ref: whitespace_tokenizer.rs)."""
    return F.filter(F.split(F.coalesce(text, F.lit("")), r"\s+"),
                    lambda t: F.length(t) > 0)


def ngram_tokens(text: Column, min_gram: int = 2, max_gram: int = 3,
                 prefix_only: bool = False) -> Column:
    """Character n-grams of each value, n in [min_gram, max_gram], in
    the reference's POSITION-MAJOR emission order — all gram lengths at
    position 1, then position 2, ... ("hello" 1..2 -> h, he, e, el, l,
    ll, l, lo, o; ngram_tokenizer.rs test_ngram_tokenizer_1_2_false).
    ``prefix_only`` mirrors NgramTokenizer::prefix_only: grams anchored
    at the first character only.  Validation matches the reference's
    panics (min_gram > 0; min_gram <= max_gram)."""
    if min_gram <= 0:
        raise ValueError("min_gram must be greater than 0")
    if min_gram > max_gram:
        raise ValueError("min_gram must not be greater than max_gram")
    t = F.coalesce(text, F.lit(""))
    n = F.length(t)
    sizes = F.sequence(F.lit(min_gram), F.lit(max_gram))

    def grams_at(i):
        return F.filter(
            F.transform(sizes,
                        lambda g: F.when(i + g - 1 <= n, t.substr(i, g))),
            lambda x: x.isNotNull())

    if prefix_only:
        return grams_at(F.lit(1))
    # guard: F.sequence(1, 0) runs DESCENDING, so short values need an
    # explicit empty result
    idx = F.sequence(F.lit(1), n - min_gram + 1)
    return (F.when(n >= min_gram, F.flatten(F.transform(idx, grams_at)))
            .otherwise(F.array().cast("array<string>")))


def stopword_filter(tokens: Column, stopwords: list[str]) -> Column:
    """Drop stop tokens (ref: stop_word_filter/)."""
    arr = F.array(*[F.lit(s) for s in stopwords])
    return F.filter(tokens, lambda t: ~F.array_contains(arr, t))


def alphanum_only_filter(tokens: Column) -> Column:
    """Keep only tokens that are purely alphanumeric
    (ref: alpha_num_only_filter.rs)."""
    return F.filter(tokens, lambda t: t.rlike(r"^[\p{L}\p{N}]+$"))


def regex_tokenizer(pattern: str):
    """Tokenizer from a regex: each match is a token, in order
    (ref: regex_tokenizer.rs — the pattern defines the tokens, the rest
    is discarded).  Invalid patterns fail AT CONSTRUCTION like the
    reference's RegexTokenizer::new (its
    test_regexp_tokenizer_error_on_invalid_regex); the Python compile
    is the eager proxy for the Java compile the executors run."""
    import re as _re

    try:
        _re.compile(pattern)
    except _re.error:
        raise ValueError(
            f"An invalid argument was passed: '{pattern}'") from None

    def chain(text: Column) -> Column:
        return F.regexp_extract_all(F.coalesce(text, F.lit("")),
                                    F.lit(pattern), 0)
    return chain


def facet_tokens(text: Column) -> Column:
    """FacetTokenizer: a facet path emits the ROOT facet then one token
    per ancestor prefix — "/a/b/c" -> ["/", "/a", "/a/b", "/a/b/c"]
    (ref: facet_tokenizer.rs:37-70 — the root facet is emitted first,
    pinned by its test_facet_tokenizer: 4 tokens for /top/a/b, and the
    explicit root facet alone emits ["/"]).

    A doc may hold SEVERAL facets (the reference's multi-valued facet
    field, facet_collector.rs test_doc_unsorted_multifacet): separate
    them with newlines in the column value — "/a/b\\n/c" tokenizes both
    paths.  NULL emits nothing; note the index build coalesces NULL to
    "" before the analyzer, so inside a build an absent facet becomes
    the explicit root facet (carries only the "/" token)."""
    empty = F.array().cast("array<string>")
    paths = F.filter(F.split(F.coalesce(text, F.lit("")), "\n"),
                     lambda p: F.length(p) > 0)

    def prefixes(path):
        parts = F.filter(F.split(path, "/"), lambda s: F.length(s) > 0)
        idx = F.sequence(F.lit(1), F.greatest(F.size(parts), F.lit(0)))
        pre = F.when(F.size(parts) > 0, F.transform(
            idx, lambda i: F.concat(F.lit("/"),
                                    F.array_join(F.slice(parts, 1, i), "/"))
        )).otherwise(empty)
        return F.concat(F.array(F.lit("/")), pre)

    return (F.when(text.isNull(), empty)
            .when(F.size(paths) == 0, F.array(F.lit("/")))
            .otherwise(F.flatten(F.transform(paths, prefixes))))


def split_compound_words(dictionary: list[str]):
    """SplitCompoundWords filter (ref: split_compound_words.rs): a token
    that decomposes ENTIRELY into a concatenation of dictionary words is
    replaced by those subwords; otherwise it passes through unchanged.
    Arrow-batched pandas UDF; the decomposition is a linear DP over the
    token (dictionary word set in the closure — it is small by nature)."""
    from pyspark.sql.functions import pandas_udf

    words = sorted(set(dictionary), key=len, reverse=True)

    @pandas_udf("array<string>")
    def _split(tok_arrays: pd.Series) -> pd.Series:
        wordset = words  # closure

        def decompose(tok: str) -> list[str] | None:
            n = len(tok)
            # best[i] = split of tok[:i] into dict words, greedy-longest
            best: list[list[str] | None] = [None] * (n + 1)
            best[0] = []
            for i in range(1, n + 1):
                for w in wordset:
                    lw = len(w)
                    if lw <= i and best[i - lw] is not None \
                            and tok[i - lw:i] == w:
                        best[i] = best[i - lw] + [w]
                        break
            return best[n] if best[n] else None

        def apply(toks):
            if toks is None:
                return []
            out = []
            for t in toks:
                parts = decompose(t)
                out.extend(parts if parts else [t])
            return out

        return tok_arrays.map(apply)

    def chain(tokens: Column) -> Column:
        return _split(tokens)

    return chain


def ascii_folding_chain(text: Column) -> Column:
    """Default analyzer + diacritic folding to ASCII via NFD decomposition
    and combining-mark removal (ref: ascii_folding_filter.rs; covers the
    Latin diacritics class, not the full 4k-entry table)."""
    import unicodedata

    # JVM-side approximation: translate the common Latin-1/Latin-A range
    src = "àáâãäåāăąçćĉċčèéêëēĕėęěìíîïĩīĭįñńņňòóôõöøōŏőùúûüũūŭůűßÿýž"
    dst_pairs = [(c, unicodedata.normalize("NFD", c)[0]) for c in src]
    dst = "".join(d if ord(d) < 128 else "?" for _c, d in dst_pairs)
    return F.transform(tokens_col(text), lambda t: F.translate(t, src, dst))


_ASCII_SPECIALS = {
    "ß": "ss", "æ": "ae", "œ": "oe", "ø": "o", "ð": "d", "đ": "d",
    "þ": "th", "ł": "l", "ħ": "h", "ŋ": "n", "ĸ": "k", "ſ": "s",
    "ƒ": "f", "ı": "i", "Æ": "AE", "Œ": "OE", "Ø": "O",
    "Ð": "D", "Þ": "TH", "Ł": "L", "Ħ": "H", "Ŋ": "N",
}


def _build_ascii_fold_table() -> dict[int, str]:
    """Full folding table generated from Unicode NFKD decomposition over
    the BMP: any char whose decomposition strips (combining marks removed)
    to printable ASCII folds to it — the same class of mappings the
    reference's ~4k-entry hand-written table encodes
    (ascii_folding_filter.rs), plus the non-decomposable specials."""
    import unicodedata

    import itertools

    table: dict[int, str] = {}
    for cp in itertools.chain(range(0x80, 0x3000),      # Latin/Greek/etc
                              range(0xFB00, 0xFB07),    # Latin ligatures
                              range(0xFF00, 0xFFF0)):   # full/half-width
        ch = chr(cp)
        dec = unicodedata.normalize("NFKD", ch)
        stripped = "".join(c for c in dec if not unicodedata.combining(c))
        if stripped and stripped != ch and all(ord(c) < 0x80 for c in stripped) \
                and stripped.isprintable():
            table[cp] = stripped
    for ch, out in _ASCII_SPECIALS.items():
        table[ord(ch)] = out
    return table


_ASCII_FOLD_TABLE: dict[int, str] | None = None


def ascii_fold_word(word: str) -> str:
    """Python-side full ASCII folding (used inside Arrow kernels)."""
    global _ASCII_FOLD_TABLE
    if _ASCII_FOLD_TABLE is None:
        _ASCII_FOLD_TABLE = _build_ascii_fold_table()
    return word.translate(_ASCII_FOLD_TABLE)


def ascii_folding_full_chain(text: Column) -> Column:
    """Default analyzer + FULL ASCII folding (NFKD-generated table + the
    non-decomposable specials, e.g. ø/ß/æ — the reference's 4k-entry
    table's coverage class) as an Arrow-batched pandas UDF."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def _fold(tok_arrays: pd.Series) -> pd.Series:
        from tantivy_spark.analyzer import ascii_fold_word
        return tok_arrays.map(
            lambda toks: [ascii_fold_word(t) for t in toks]
            if toks is not None else [])

    return _fold(tokens_col(text))


def json_path_tokens_col(json_str: Column) -> Column:
    """JsonObject indexing (ref: src/schema/term.rs:72-80 — terms for JSON
    fields carry a path prefix): a flat JSON object column becomes
    ``key=value`` terms, so queries address nested values as path-prefixed
    terms exactly like the reference's json field.  One level deep here;
    deeper paths would flatten to dotted prefixes."""
    m = F.from_json(json_str, "map<string,string>")
    return F.transform(
        F.map_entries(F.coalesce(m, F.expr("map()"))),
        lambda e: F.concat(e["key"], F.lit("="), e["value"]),
    )


def json_key_segment(key: str, expand_dots: bool = False) -> str:
    """Canonical path-segment form of one JSON object key (ref:
    src/schema/json_object_options.rs — ``set_expand_dots_enabled``).
    The reference separates path segments with a \\x01 byte, so a key
    holding a LITERAL dot ("attr.age") stays distinct from real nesting
    with no escaping; this repo's terms are plain dot-joined strings, so
    with expansion DISABLED (the reference default) literal dots inside
    a key escape as ``\\.`` (and backslashes as ``\\\\``) — the same
    escaped form the query grammar already uses to address them
    (fastfield/mod.rs:1088 test_fast_field_in_json_field_expand_dots_
    disabled).  With expansion ENABLED the dotted key is treated AS IF
    it were nested json — "attr.age" and {"attr":{"age":..}} unify
    (fastfield/mod.rs:1139 ..._expand_dots_enabled)."""
    if expand_dots:
        return key
    return key.replace("\\", "\\\\").replace(".", "\\.")


def json_typed_tokens(json_str: Column, expand_dots: bool = False) -> Column:
    """TYPED arbitrary-depth JsonObject indexing (ref:
    src/schema/term.rs:72-80 — JSON terms carry the path prefix AND a
    value type tag): string leaves TOKENIZE with the default text
    analyzer into ``path=tok`` terms IN ORDER (so term queries are
    case-folded and PhraseQuery works inside json values — positions
    are the emitted token indices, and since phrase terms all carry the
    same path prefix, tokens of other paths never match into a phrase,
    exactly the reference's json-field phrase behaviour); numbers index
    as ``path#n=<order-preserving hex16>`` and bools as
    ``path#b=true|false`` (tantivy_spark.functions.jsonterm), so
    numeric RANGE queries lower to ordinary TermRangeQuery dictionary
    walks.  Arrow-batched pandas UDF.

    ``expand_dots`` mirrors JsonObjectOptions::set_expand_dots_enabled:
    disabled (default) keeps literal-dot keys distinct via ``\\.``
    escapes; enabled folds them into the nested-path namespace."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def _flat(s: pd.Series) -> pd.Series:
        import json
        import re as _re

        from tantivy_spark.functions.jsonterm import (
            json_bool_term, json_int_term, json_num_term, json_str_term)

        word_re = _re.compile(r"[^\W_]+", _re.UNICODE)

        def flatten(obj, prefix=""):
            out = []
            if isinstance(obj, dict):
                for k, v in obj.items():
                    k = json_key_segment(k, expand_dots)
                    p = f"{prefix}.{k}" if prefix else k
                    out.extend(flatten(v, p))
            elif isinstance(obj, list):
                for v in obj:
                    out.extend(flatten(v, prefix))
            elif isinstance(obj, bool):
                out.append(json_bool_term(prefix, obj))
            elif isinstance(obj, (int, float)):
                out.append(json_num_term(prefix, obj))
                if isinstance(obj, int):
                    # exact i64 twin term (term.rs:72-80 i64 tag): keeps
                    # >2^53 integers exact for #i= equality/ranges
                    out.append(json_int_term(prefix, obj))
            elif isinstance(obj, str):
                # default-analyzer tail: lowercase alnum runs, 40-byte cap
                out.extend(json_str_term(prefix, t.lower())
                           for t in word_re.findall(obj)
                           if len(t.encode("utf-8")) < 40)
            # null: not indexed (the reference indexes no term for null)
            return out

        def run(x):
            if x is None:
                return []
            try:
                return flatten(json.loads(x))
            except Exception:
                return []

        return s.map(run)

    return _flat(json_str)


def _stem_chain(stem_import: str):
    """Build a "{lang}_stem" analyzer: default chain + an Arrow-batched
    pandas-UDF stemmer (ref: tokenizer_manager.rs registers en_stem etc;
    stemmer.rs:35-75 lists the Snowball languages).  ``stem_import`` is a
    "module:function" path resolved inside the worker, so the UDF closure
    stays tiny."""
    from pyspark.sql.functions import pandas_udf

    mod_name, fn_name = stem_import.split(":")

    @pandas_udf("array<string>")
    def _stem(tok_arrays: pd.Series) -> pd.Series:
        import importlib

        fn = getattr(importlib.import_module(mod_name), fn_name)
        # Vocabulary-level stemming: stem each UNIQUE token in the Arrow
        # batch once, then map arrays through the dictionary.  Zipf token
        # distributions make the unique set ~10-100x smaller than the
        # token stream, so the per-token Python interpreter cost becomes
        # per-unique-TERM cost — the batch output is byte-identical.
        vocab: dict[str, str] = {}
        for toks in tok_arrays:
            if toks is not None:
                for t in toks:
                    if t not in vocab:
                        vocab[t] = fn(t)
        return tok_arrays.map(
            lambda toks: [vocab[t] for t in toks] if toks is not None else [])

    def chain(text: Column) -> Column:
        return _stem(tokens_col(text))

    return chain


def json_path_tokens_deep(json_str: Column, expand_dots: bool = False) -> Column:
    """Arbitrary-depth JsonObject indexing (ref: src/schema/term.rs:72-80
    — JSON terms carry the full path prefix): nested objects flatten to
    dotted-path ``a.b.c=value`` terms; arrays index each element under the
    same path.  Arrow-batched pandas UDF (JSON recursion is not
    expressible as a static Catalyst schema).  ``expand_dots`` as in
    :func:`json_typed_tokens`."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def _flat(s: pd.Series) -> pd.Series:
        import json

        def flatten(obj, prefix=""):
            out = []
            if isinstance(obj, dict):
                for k, v in obj.items():
                    k = json_key_segment(k, expand_dots)
                    p = f"{prefix}.{k}" if prefix else k
                    out.extend(flatten(v, p))
            elif isinstance(obj, list):
                for v in obj:
                    out.extend(flatten(v, prefix))
            else:
                if isinstance(obj, str):
                    val = obj
                elif obj is True:
                    val = "true"
                elif obj is False:
                    val = "false"
                elif obj is None:
                    val = "null"
                else:
                    val = json.dumps(obj)
                out.append(f"{prefix}={val}")
            return out

        def run(x):
            if x is None:
                return []
            try:
                return flatten(json.loads(x))
            except Exception:
                return []

        return s.map(run)

    return _flat(json_str)


def en_stem_tokens_col(text: Column) -> Column:
    """The "en_stem" chain: default analyzer + Porter stemmer (no stemming
    library ships here; implemented in tantivy_spark.functions.porter)."""
    return _stem_chain("tantivy_spark.functions.porter:porter_stem")(text)


# Snowball chains beyond English (ref: stemmer.rs:35-75) — the
# algorithms are implemented from the published Snowball descriptions in
# tantivy_spark.functions.snowball.  (Lazy: pandas_udf creation needs an
# active session, so the chain is built per call, not at import.)

def de_stem_tokens_col(text: Column) -> Column:
    return _stem_chain("tantivy_spark.functions.snowball:german_stem")(text)


def es_stem_tokens_col(text: Column) -> Column:
    return _stem_chain("tantivy_spark.functions.snowball:spanish_stem")(text)


def fr_stem_tokens_col(text: Column) -> Column:
    return _stem_chain("tantivy_spark.functions.snowball:french_stem")(text)


def it_stem_tokens_col(text: Column) -> Column:
    return _stem_chain("tantivy_spark.functions.snowball:italian_stem")(text)


def pt_stem_tokens_col(text: Column) -> Column:
    return _stem_chain("tantivy_spark.functions.snowball:portuguese_stem")(text)


def nl_stem_tokens_col(text: Column) -> Column:
    return _stem_chain("tantivy_spark.functions.snowball:dutch_stem")(text)


def ru_stem_tokens_col(text: Column) -> Column:
    return _stem_chain("tantivy_spark.functions.snowball:russian_stem")(text)


def da_stem_tokens_col(text: Column) -> Column:
    return _stem_chain("tantivy_spark.functions.snowball:danish_stem")(text)


def no_stem_tokens_col(text: Column) -> Column:
    return _stem_chain("tantivy_spark.functions.snowball:norwegian_stem")(text)


def sv_stem_tokens_col(text: Column) -> Column:
    return _stem_chain("tantivy_spark.functions.snowball:swedish_stem")(text)


def ro_stem_tokens_col(text: Column) -> Column:
    return _stem_chain("tantivy_spark.functions.snowball2:romanian_stem")(text)


def fi_stem_tokens_col(text: Column) -> Column:
    return _stem_chain("tantivy_spark.functions.snowball2:finnish_stem")(text)


def hu_stem_tokens_col(text: Column) -> Column:
    return _stem_chain("tantivy_spark.functions.snowball2:hungarian_stem")(text)


def tr_stem_tokens_col(text: Column) -> Column:
    return _stem_chain("tantivy_spark.functions.snowball2:turkish_stem")(text)


def ar_stem_tokens_col(text: Column) -> Column:
    return _stem_chain("tantivy_spark.functions.snowball3:arabic_stem")(text)


def el_stem_tokens_col(text: Column) -> Column:
    return _stem_chain("tantivy_spark.functions.snowball3:greek_stem")(text)


def ta_stem_tokens_col(text: Column) -> Column:
    return _stem_chain("tantivy_spark.functions.snowball3:tamil_stem")(text)


ANALYZERS = {
    "default": tokens_col,
    "raw": raw_analyzer,
    "whitespace": whitespace_analyzer,
    "en_stem": en_stem_tokens_col,
    "de_stem": de_stem_tokens_col,
    "es_stem": es_stem_tokens_col,
    "fr_stem": fr_stem_tokens_col,
    "it_stem": it_stem_tokens_col,
    "pt_stem": pt_stem_tokens_col,
    "nl_stem": nl_stem_tokens_col,
    "ru_stem": ru_stem_tokens_col,
    "da_stem": da_stem_tokens_col,
    "no_stem": no_stem_tokens_col,
    "sv_stem": sv_stem_tokens_col,
    "ro_stem": ro_stem_tokens_col,
    "fi_stem": fi_stem_tokens_col,
    "hu_stem": hu_stem_tokens_col,
    "tr_stem": tr_stem_tokens_col,
    "ar_stem": ar_stem_tokens_col,
    "el_stem": el_stem_tokens_col,
    "ta_stem": ta_stem_tokens_col,
    "json_typed": json_typed_tokens,
    # JsonObjectOptions::set_expand_dots_enabled variant: literal-dot
    # keys fold into the nested-path namespace (fastfield/mod.rs:1139)
    "json_typed_expand_dots":
        lambda c: json_typed_tokens(c, expand_dots=True),
    "facet": facet_tokens,
}

#: python-side stemmer of each "{lang}_stem" chain (query-literal
#: analysis must match what the field's chain indexed)
_PY_STEMMERS = {
    "en_stem": "tantivy_spark.functions.porter:porter_stem",
    "de_stem": "tantivy_spark.functions.snowball:german_stem",
    "es_stem": "tantivy_spark.functions.snowball:spanish_stem",
    "fr_stem": "tantivy_spark.functions.snowball:french_stem",
    "it_stem": "tantivy_spark.functions.snowball:italian_stem",
    "pt_stem": "tantivy_spark.functions.snowball:portuguese_stem",
    "nl_stem": "tantivy_spark.functions.snowball:dutch_stem",
    "ru_stem": "tantivy_spark.functions.snowball:russian_stem",
    "da_stem": "tantivy_spark.functions.snowball:danish_stem",
    "no_stem": "tantivy_spark.functions.snowball:norwegian_stem",
    "sv_stem": "tantivy_spark.functions.snowball:swedish_stem",
    "ro_stem": "tantivy_spark.functions.snowball2:romanian_stem",
    "fi_stem": "tantivy_spark.functions.snowball2:finnish_stem",
    "hu_stem": "tantivy_spark.functions.snowball2:hungarian_stem",
    "tr_stem": "tantivy_spark.functions.snowball2:turkish_stem",
    "ar_stem": "tantivy_spark.functions.snowball3:arabic_stem",
    "el_stem": "tantivy_spark.functions.snowball3:greek_stem",
    "ta_stem": "tantivy_spark.functions.snowball3:tamil_stem",
}


def py_analyze_fn(name: str):
    """Python-side (driver) analyzer equivalent of a registered chain —
    used for QUERY LITERALS against fields indexed with that chain (the
    reference's QueryParser resolves the field's analyzer the same way,
    query_parser.rs:336-412)."""
    import importlib

    import pandas as pd

    if name == "default":
        return lambda text: list(tokenize_series(pd.Series([text]))[0])
    if name == "whitespace":
        return lambda text: (text or "").split()
    if name == "raw":
        return lambda text: [text] if text else []
    if name in _PY_STEMMERS:
        mod_name, fn_name = _PY_STEMMERS[name].split(":")
        stem = getattr(importlib.import_module(mod_name), fn_name)

        def run(text: str) -> list[str]:
            return [stem(t) for t in tokenize_series(pd.Series([text]))[0]]

        return run
    raise KeyError(f"no python-side analyzer for chain {name!r}")


# ---------------------------------------------------------------------------
# 3. DuckDB SQL form (oracle)
# ---------------------------------------------------------------------------

def duckdb_tokens_sql(text_expr: str) -> str:
    """DuckDB list<varchar> expression: the analyzer chain in SQL."""
    return (
        f"list_transform("
        f"list_filter(regexp_extract_all({text_expr}, '{RE2_TOKEN_PATTERN}'), "
        f"t -> strlen(t) < {MAX_TOKEN_BYTES}), t -> lower(t))"
    )
