"""Partition-parallel inverted-index build.

Spark-first translation of the reference's indexing pipeline
(/root/reference/src/indexer/index_writer.rs:182-299 — N worker threads,
each building an independent in-RAM segment, flushed under a memory
budget):

* one **segment** == one Spark partition group, assigned by a
  deterministic, parallelism-independent expression over the document key
  (so the index — and therefore every docID and score — is identical at
  any cluster size);
* each segment is built by a single Arrow ``applyInPandas`` kernel that
  tokenizes, aggregates (term, doc) -> tf/positions, and writes
  block-compressed posting lists (delta+bitpack full blocks, VInt tails,
  per-block block-max metadata — ref semantics
  src/postings/serializer.rs:379-481);
* posting lists are split into bounded **chunks** (<= CHUNK_DOCS postings)
  so no single row ever exceeds a few MB regardless of term hotness — this
  is the unit of skew-free merge and of WAND block iteration;
* global statistics (term -> doc_freq, total docs/tokens) are plain
  DataFrame aggregations;
* the build is **checkpoint-resumable**: each stage writes its output and
  a manifest entry; re-running skips completed stages.  Per-partition
  lineage + throughput metrics land in ``lineage/`` and ``meta.json``.

This module is the one definition of how an index directory is written.
``build_index`` and streaming ingest (``streaming/ingest.py``) derive
postings and docmap from source documents with :func:`segment_postings`
and :func:`segment_docmap`; they and ``merge_segments`` (``merge.py``)
derive ``term_stats`` and ``lineage`` from the written postings with
:func:`term_stats_table` and :func:`lineage_table`, and the manifest
``totals`` from per-chain sentinel statistics with :func:`index_totals`.
Each caller only schedules the writes.

It is also the one definition of a postings ROW.  :func:`posting_chunks`
encodes one term's list into its chunk rows (the segment kernel and both
merge kernels), :func:`decode_chunk` decodes a row (exact search and
merge), and :func:`sentinel_chunks` / :func:`decode_sentinel` write and
read the fieldnorm sentinel rows (build, merge, ``IndexReader.
fieldnorms_of``).  WAND decodes single blocks with ``codec.decode_block``.
No other module calls the codec's list, position or VInt coders.

Layout of an index directory::

    {out}/docmap/      (segment_ord, doc_id, key, *fast_field_cols[, sortv])
    {out}/postings/    (segment_ord, term, chunk_id, doc_freq, total_tf,
                        docs, tfs, fns, pos, last_docs, n_docs,
                        bits_doc, bits_tf, wand_fn, wand_tf); per-doc
                       num_tokens and fieldnorm ids ride in the
                       FIELDNORM_SENTINEL rows
    {out}/term_stats/  (term, doc_freq, total_tf)
    {out}/lineage/     (segment_ord, n_docs, n_tokens, posting_rows,
                        postings, bytes)
    {out}/meta.json    manifest
"""

from __future__ import annotations

import json
import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import asdict, dataclass, replace

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from tantivy_spark.bm25 import tf_cache_f32
from tantivy_spark.fieldnorm import fieldnorm_to_id
from tantivy_spark.index import codec

CHUNK_DOCS = 1 << 17  # max postings per chunk row (1024 blocks)

_POSTINGS_PA_SCHEMA = pa.schema([
    ("segment_ord", pa.int32()), ("term", pa.string()), ("chunk_id", pa.int32()),
    ("doc_freq", pa.int64()), ("total_tf", pa.int64()),
    ("docs", pa.binary()), ("tfs", pa.binary()), ("fns", pa.binary()),
    ("pos", pa.binary()),
    ("last_docs", pa.list_(pa.int32())), ("n_docs", pa.list_(pa.int32())),
    ("bits_doc", pa.list_(pa.int32())), ("bits_tf", pa.list_(pa.int32())),
    ("wand_fn", pa.list_(pa.int32())), ("wand_tf", pa.list_(pa.int32())),
])
POSTINGS_SCHEMA = from_arrow_schema(_POSTINGS_PA_SCHEMA)
#: postings column names, in POSTINGS_SCHEMA order (the tuples the row
#: helpers return and the frames the merge kernels emit)
POSTINGS_COLUMNS = _POSTINGS_PA_SCHEMA.names

#: Reserved pseudo-term carrying per-segment per-doc stats inside the
#: postings table (one row per segment): ``docs`` = VInt(num_tokens per
#: doc, doc_id-indexed), ``fns`` = fieldnorm-id byte per doc,
#: ``doc_freq`` = n_docs, ``total_tf`` = segment token count.  "\x00" can
#: never appear in analyzer output ([\p{L}\p{N}]+), so no collision.
#: This keeps the build single-pass: no stage ever re-tokenizes.
FIELDNORM_SENTINEL = "\x00fieldnorms"

#: Multi-field schema: terms are stored field-qualified as
#: ``{field}\x1f{term}`` — the analogue of the reference's Term encoding
#: ``field_id ++ type_tag ++ bytes`` (src/schema/term.rs:22-58), reusing
#: the JSON-path prefix mechanism (\x1f cannot appear in analyzer
#: output).  Each field gets its OWN sentinel row chain
#: (``\x00fieldnorms\x1f{field}``) carrying that field's per-doc token
#: counts and fieldnorm ids, so BM25 norms and averages are per-field,
#: like the reference's per-field fieldnorm readers.
FIELD_SEP = "\x1f"


def fieldnorm_sentinel(fld: str | None = None) -> str:
    return FIELDNORM_SENTINEL if fld is None else \
        f"{FIELDNORM_SENTINEL}{FIELD_SEP}{fld}"


def qualify_term(term: str, fld: str) -> str:
    """Field-qualified dictionary key of a term."""
    return f"{fld}{FIELD_SEP}{term}"


@dataclass
class IndexConfig:
    key_col: str = "url"
    text_col: str = "text"
    #: multi-field schema: ordered {field_name: source_column}.  When set,
    #: ``text_col`` is ignored; every field indexes into the SAME segment/
    #: doc-id space (one docmap) with field-qualified terms and its own
    #: fieldnorm sentinel chain.  The FIRST field is the default field for
    #: unqualified query terms.
    field_cols: dict[str, str] | None = None
    #: per-field analyzer selection (ref: per-field tokenizers in the
    #: schema, query_parser.rs:336-412): {field: name in
    #: analyzer.ANALYZERS}.  Unlisted fields use the default chain.
    #: Query literals against such a field must be analyzed with the same
    #: chain (QueryParser(field_analyzers=...)).
    field_analyzers: dict[str, str] | None = None
    #: FAST FIELDS stored IN the index: input columns carried on the
    #: docmap rows next to (segment_ord, doc_id, key) — the analogue of
    #: the reference's per-segment fast-field (columnar) files.  Range
    #: queries and aggregations over these columns resolve directly on
    #: the docmap scan, no join back to the source table.
    fast_field_cols: list[str] | None = None
    #: per-fast-field DATE storage precision (ref: DateOptions::
    #: set_precision, src/schema/date_time_options.rs:92-107 — the
    #: fast-field column stores values TRUNCATED to this precision,
    #: purely a storage optimization; the reference's indexed/term
    #: precision is always seconds, DATE_TIME_PRECISION_INDEXED, a
    #: dictionary this design replaces with fast-field range scans).
    #: {column: "seconds" | "milliseconds" | "microseconds"}.
    #: "nanoseconds" is accepted but stores microseconds — Spark
    #: TimestampType has no nanosecond representation (documented
    #: platform divergence; truncation at micros is the identity).
    date_precisions: dict[str, str] | None = None
    #: per-fast-field STRING normalizer (ref: TextOptions::set_fast(
    #: Some(tokenizer)) — fastfield/mod.rs:1208 test_fast_field_tokenizer:
    #: the fast-field tokenizer NORMALIZES the stored value, so equal
    #: normalized values dictionary-unify).  {column: "raw" | "lowercase"
    #: | "default"}: "raw" stores the value as-is, "lowercase" stores the
    #: whole value lowercased (the reference's raw+LowerCaser chain), and
    #: "default" runs the full default analyzer — the column becomes
    #: array<string>, one value per TOKEN (the reference's multivalued
    #: text fast field; aggregations then count per occurrence).
    fast_field_tokenizers: dict[str, str] | None = None
    #: segment count; None (the default) = MEMORY-BUDGETED auto sizing
    #: (ref: index_writer.rs:182-195, 274-299 — the reference flushes a
    #: segment when a writer thread's memory arena hits its per-thread
    #: budget; the Spark analogue derives n_segments from corpus stats
    #: so one segment kernel's working set stays bounded at ANY corpus
    #: size — see resolve_n_segments).  Small corpora resolve to 8, the
    #: historical default, so existing indexes resume unchanged.
    n_segments: int | None = None
    segment_expr: str | None = None   # SQL over input cols; default pmod(xxhash64(key), n)
    with_positions: bool = True
    #: IndexRecordOption parity (ref: src/schema/index_record_option.rs):
    #: "positions" (default) = WithFreqsAndPositions; "freqs" =
    #: WithFreqs (no positions — phrase queries raise the schema
    #: error); "basic" = docids only — term frequency reads as 1
    #: everywhere (the reference's TermScorer on a Basic field scores
    #: with tf=1), positions off.  Fieldnorms always record the TRUE
    #: token count (a separate flag in the reference too).
    record_option: str = "positions"
    #: index sorting (ref: IndexSettings.sort_by_field,
    #: src/index/index_meta.rs:250-295): doc ids within a segment are
    #: assigned in (sort_col, key) order instead of key order.  Must be a
    #: column of the input DataFrame; "desc:<col>" for descending.
    sort_col: str | None = None
    #: parquet compression codec for every index table.  Measured A/B on
    #: the 800k-doc bench index (same data, same session): zstd 90.9 MB
    #: vs snappy 125.0 MB (27% smaller); hot-term query latency pays
    #: ~10-25% warm on RAM-backed storage (wand_or 1.47 vs 1.15 s,
    #: exact_term 1.07 vs 1.04 s) where decompress CPU is the only cost.
    #: zstd is the default because the 100-TB regime reads from object
    #: storage, where 27% fewer bytes dominates; latency-critical
    #: RAM/NVMe deployments should set compression="snappy".
    compression: str = "zstd"
    #: max postings (and sentinel docs) per chunk row; overridable mainly
    #: for tests — readers pick it up from the manifest
    chunk_docs: int = CHUNK_DOCS

    def segment_sql(self) -> str:
        if self.segment_expr:
            return self.segment_expr
        return f"pmod(xxhash64({self.key_col}), {self.n_segments})"


def _stage_done(out_dir: str, stage: str) -> bool:
    return os.path.exists(os.path.join(out_dir, stage, "_SUCCESS"))


def _sort_spec(cfg: IndexConfig) -> tuple[str, bool] | None:
    """(col, descending) for index sorting, or None."""
    if not cfg.sort_col:
        return None
    if cfg.sort_col.startswith("desc:"):
        return cfg.sort_col[5:], True
    return cfg.sort_col, False


def _field_specs(cfg: IndexConfig) -> list[tuple[str, str, str, str, str]]:
    """[(term_prefix, source_col_alias, toks_col, sentinel_term,
    analyzer_name)] — one entry per indexed field.  Single-field indexes
    keep the historical unprefixed layout (prefix "", sentinel
    FIELDNORM_SENTINEL), so their on-disk format is unchanged."""
    if not cfg.field_cols:
        return [("", "text", "toks", FIELDNORM_SENTINEL, "default")]
    anlz = cfg.field_analyzers or {}
    return [(f"{fld}{FIELD_SEP}", f"text__{fld}", f"toks__{fld}",
             fieldnorm_sentinel(fld), anlz.get(fld, "default"))
            for fld in cfg.field_cols]


#: DateTimePrecision names -> Spark date_trunc units (DateOptions::
#: set_precision; nanoseconds clamps to microseconds — see IndexConfig)
_DATE_PRECISIONS = {"seconds": "second", "milliseconds": "millisecond",
                    "microseconds": "microsecond",
                    "nanoseconds": "microsecond"}


def _date_truncated(col, precision: str):
    """Truncate a timestamp fast-field column to its configured storage
    precision (date_time_options.rs:92-107: values in the columnar are
    stored truncated; range/agg reads observe the truncated value)."""
    try:
        unit = _DATE_PRECISIONS[precision]
    except KeyError:
        raise ValueError(
            f"unknown date precision {precision!r}; expected one of "
            f"{sorted(_DATE_PRECISIONS)}") from None
    return F.date_trunc(unit, col)


def _ff_normalized(col, name: str):
    """Normalize a string fast-field column with its configured
    fast-field tokenizer (TextOptions::set_fast(Some(..)),
    fastfield/mod.rs:1208-1273): "raw" = as-is, "lowercase" = the
    reference's raw+LowerCaser chain over the WHOLE value, "default" =
    the full default analyzer — the stored column becomes one value per
    token (the reference's multivalued text fast field)."""
    if name == "raw":
        return col
    if name == "lowercase":
        return F.lower(col)
    if name == "default":
        from tantivy_spark.analyzer import tokens_col
        return tokens_col(col)
    raise ValueError(
        f"unknown fast-field tokenizer {name!r}; expected one of "
        f"['default', 'lowercase', 'raw']")


def _segmented_docs(df: DataFrame, cfg: IndexConfig) -> DataFrame:
    """(segment_ord, key, text-col(s)[, sortv]) with deterministic segment
    assignment."""
    cols = [
        F.expr(cfg.segment_sql()).cast("int").alias("segment_ord"),
        F.col(cfg.key_col).alias("key"),
    ]
    if cfg.field_cols:
        cols += [F.col(src).alias(f"text__{fld}")
                 for fld, src in cfg.field_cols.items()]
    else:
        cols.append(F.col(cfg.text_col).alias("text"))
    prec = cfg.date_precisions or {}
    norm = cfg.fast_field_tokenizers or {}
    for ff in cfg.fast_field_cols or ():
        c = F.col(ff)
        if ff in prec:
            c = _date_truncated(c, prec[ff])
        if ff in norm:
            c = _ff_normalized(c, norm[ff])
        cols.append(c.alias(ff))
    spec = _sort_spec(cfg)
    if spec:
        cols.append(F.col(spec[0]).alias("sortv"))
    return df.select(*cols)


def _tokenized_docs(df: DataFrame, cfg: IndexConfig) -> DataFrame:
    """(segment_ord, key, toks-col(s)): raw alphanumeric runs split
    JVM-side with a plain (codegen-friendly) regexp_extract_all — no
    higher-order functions, whose per-token struct allocation dominates
    otherwise.  Lowercasing, the 40-byte filter, and position bookkeeping
    happen in the Arrow kernel at C speed."""
    from tantivy_spark.analyzer import ANALYZERS, raw_tokens_col

    seg = _segmented_docs(df, cfg)
    cols = ["segment_ord", "key"]
    for _pfx, src, toks, _sent, anlz in _field_specs(cfg):
        text = F.coalesce(F.col(src), F.lit(""))
        if anlz == "default":
            # default chain: raw runs here, lowercase + length filter in
            # the Arrow kernel (C speed)
            cols.append(raw_tokens_col(text).alias(toks))
        else:
            # custom chain: the registered analyzer produces FINAL tokens
            # (the kernel skips its lowercase tail for this field)
            cols.append(ANALYZERS[anlz](text).alias(toks))
    if _sort_spec(cfg):
        cols.append(F.col("sortv"))
    return seg.select(*cols)


def _segment_kernel(cfg: IndexConfig):
    """applyInArrow kernel: one whole segment in -> posting rows out.

    The analogue of one reference indexing thread
    (SegmentWriter + PostingsSerializer).  The analyzer tail (lowercase,
    40-byte filter) runs as Arrow compute (C); terms are
    dictionary-encoded so all grouping/sorting happens on integer numpy
    arrays; the only Python loop is per unique term, each iteration
    operating on numpy slices.
    """
    with_positions = cfg.with_positions
    basic = cfg.record_option == "basic"
    sort_spec = _sort_spec(cfg)
    chunk_docs = int(cfg.chunk_docs)  # captured by value into the kernel
    specs = [(pfx, toks, sent, anlz != "default")
             for pfx, _src, toks, sent, anlz in _field_specs(cfg)]

    def build_segment(tbl: "pa.Table") -> "pa.Table":
        import pyarrow.compute as pc

        seg = int(tbl.column("segment_ord")[0].as_py())
        if sort_spec:
            direction = "descending" if sort_spec[1] else "ascending"
            order = pc.sort_indices(tbl.combine_chunks(), sort_keys=[
                ("sortv", direction), ("key", "ascending")])
        else:
            order = pc.sort_indices(tbl.column("key").combine_chunks())
        rows = []
        for term_prefix, toks_col, sentinel, pre_analyzed in specs:
            rows.extend(_index_field(tbl, order, seg, term_prefix, toks_col,
                                     sentinel, chunk_docs, with_positions,
                                     pre_analyzed))
        cols = list(zip(*rows))
        return pa.table(
            {name: list(cols[i]) for i, name in enumerate(POSTINGS_COLUMNS)},
            schema=_POSTINGS_PA_SCHEMA,
        )

    def _index_field(tbl, order, seg, term_prefix, toks_col, sentinel,
                     chunk_docs, with_positions, pre_analyzed=False):
        """Posting + sentinel rows of ONE field of one segment — per-field
        fieldnorms, per-field segment-average block-max cache, terms
        stored under the field's prefix.  ``pre_analyzed`` fields arrive
        as FINAL tokens (a custom analyzer chain ran JVM-side), so the
        kernel's lowercase tail is skipped and only the postings-writer
        MAX_TOKEN_LEN guard applies (the 40-byte RemoveLong belongs to
        the DEFAULT chain, tokenizer_manager.rs:58-78)."""
        import pyarrow.compute as pc

        la = tbl.column(toks_col).combine_chunks().take(order)
        n_docs = len(la)
        raw_counts = pc.list_value_length(la).to_numpy(zero_copy_only=False)
        raw_counts = np.nan_to_num(raw_counts.astype(np.float64)).astype(np.int64) \
            if raw_counts.dtype == object else raw_counts.astype(np.int64)
        starts = np.zeros(n_docs, dtype=np.int64)
        if n_docs:
            starts[1:] = np.cumsum(raw_counts)[:-1]
        flat_raw = la.flatten()
        total_raw = len(flat_raw)

        if total_raw:
            blen = pc.binary_length(flat_raw).to_numpy()
            if pre_analyzed:
                # custom chains carry their OWN length policy (the
                # reference's "raw"/"whitespace"/facet/json chains have
                # no RemoveLong); only the postings-writer guard applies:
                # tokens past MAX_TOKEN_LEN silently drop and do not
                # count toward fieldnorms (postings_writer.rs:144-152,
                # tokenizer/mod.rs:168 = u16::MAX - 5)
                keep = blen <= 65530
            else:
                keep = blen < 40  # default chain RemoveLong(40),
                #                   on the pre-lowercase token
            low = flat_raw if pre_analyzed else pc.utf8_lower(flat_raw)
            dic = pc.dictionary_encode(low)
            codes_raw = dic.indices.to_numpy(zero_copy_only=False).astype(np.int64)
            # remap codes so code order == lexicographic term order (the
            # serializer contract: terms stream out sorted, ref
            # src/postings/postings_writer.rs:74-79)
            vocab_order = pc.sort_indices(dic.dictionary).to_numpy().astype(np.int64)
            rank = np.empty(len(vocab_order), dtype=np.int64)
            rank[vocab_order] = np.arange(len(vocab_order))
            codes_all = rank[codes_raw]
            vocab = dic.dictionary.take(pa.array(vocab_order))
            doc_rep_all = np.repeat(np.arange(n_docs, dtype=np.int64), raw_counts)
            pos_all_raw = np.arange(total_raw, dtype=np.int64) - starts[doc_rep_all]
            codes = codes_all[keep]
            doc_rep = doc_rep_all[keep]
            pos_kept = pos_all_raw[keep]
            counts = np.bincount(doc_rep, minlength=n_docs).astype(np.int64)
        else:
            codes = doc_rep = pos_kept = np.zeros(0, dtype=np.int64)
            vocab = None
            counts = np.zeros(n_docs, dtype=np.int64)

        fn_ids_per_doc = fieldnorm_to_id(counts)
        total_tokens = int(counts.sum())
        # segment-average fieldnorm drives block-max pair selection
        # (ref: serializer.rs:404-428 uses the segment's average)
        avg_fn = (total_tokens / n_docs) if n_docs else 1.0
        cache = tf_cache_f32(max(avg_fn, 1e-9))

        rows = sentinel_chunks(seg, sentinel, counts, fn_ids_per_doc,
                               chunk_docs)
        if total_tokens:
            # (term, doc, pos) ordering.  Fast path: bit-pack the three
            # keys into ONE int64 and np.sort it — a single-array sort
            # with field decode replaces lexsort's three key passes plus
            # an int64 permutation plus three gathers, roughly halving
            # the memory traffic of the kernel's dominant stage (the 8M
            # probe showed this stage is bandwidth-bound).  Identical
            # ordering by construction (fields compare lexicographically
            # when packed high-to-low); falls back to lexsort when the
            # widths cannot fit 63 bits (huge vocab x huge segment).
            b_pos = max(int(pos_kept.max()), 1).bit_length() if len(pos_kept) else 1
            b_doc = max(n_docs - 1, 1).bit_length()
            n_vocab_f = len(vocab) if vocab is not None else 1
            b_code = max(n_vocab_f - 1, 1).bit_length()
            if b_pos + b_doc + b_code <= 63:
                packed = np.sort((codes << (b_doc + b_pos))
                                 | (doc_rep << b_pos) | pos_kept)
                t_codes = packed >> (b_doc + b_pos)
                docs_all = (packed >> b_pos) & ((1 << b_doc) - 1)
                pos_all = packed & ((1 << b_pos) - 1)
            else:
                sort_ix = np.lexsort((pos_kept, doc_rep, codes))
                t_codes = codes[sort_ix]
                docs_all = doc_rep[sort_ix]
                pos_all = pos_kept[sort_ix]
            npost = len(t_codes)
            # (term, doc) run-length -> tf
            td_change = np.empty(npost, dtype=bool)
            td_change[0] = True
            td_change[1:] = (t_codes[1:] != t_codes[:-1]) | (docs_all[1:] != docs_all[:-1])
            td_starts = np.nonzero(td_change)[0]
            tfs_all = np.diff(np.append(td_starts, npost))
            if basic:
                # IndexRecordOption::Basic: no term frequencies — every
                # posting reads tf=1 (index_record_option.rs; TermScorer
                # scores Basic fields with term_freq()==1).  The all-ones
                # array bitpacks to zero data bits per block.
                tfs_all = np.minimum(tfs_all, 1)
            docs_td = docs_all[td_starts]
            tcodes_td = t_codes[td_starts]
            # per-term ranges over the (term, doc) axis
            t_change = np.empty(len(td_starts), dtype=bool)
            t_change[0] = True
            t_change[1:] = tcodes_td[1:] != tcodes_td[:-1]
            t_starts = np.nonzero(t_change)[0]
            t_ends = np.append(t_starts[1:], len(td_starts))
            pos_starts = td_starts[t_starts]
            pos_ends = np.append(td_starts[t_starts[1:]], npost)

            vocab_py = vocab.to_pylist()  # one bulk conversion, not per-term
            for ti in range(len(t_starts)):
                lo, hi = t_starts[ti], t_ends[ti]
                term = term_prefix + vocab_py[int(tcodes_td[lo])]
                d = docs_td[lo:hi]
                tf = tfs_all[lo:hi]
                fn = fn_ids_per_doc[d]
                term_pos = pos_all[pos_starts[ti]:pos_ends[ti]] if with_positions else None
                rows.extend(posting_chunks(seg, term, d, tf, fn, term_pos,
                                           cache, chunk_docs))
        return rows

    return build_segment


# ---- the postings row format (see the module docstring) ---------------------

def posting_chunks(seg: int, term: str, docs: np.ndarray, tfs: np.ndarray,
                   fns: np.ndarray, pos: np.ndarray | None,
                   tf_cache: np.ndarray, chunk_docs: int,
                   first_chunk: int = 0) -> list[tuple]:
    """Postings rows of one term's list in one segment: ``docs`` strictly
    increasing, aligned ``tfs`` and fieldnorm ids ``fns``, ``pos`` the
    concatenated per-doc positions (or None), ``tf_cache`` the block-max
    pair selector (bm25.tf_cache_f32 of the field's average fieldnorm).
    The list splits into ``chunk_docs``-posting chunks numbered from
    ``first_chunk``; an empty list has no rows.  A list that fits one
    chunk (most of a Zipf vocabulary) is encoded without slicing."""
    n = len(docs)
    rows = []
    pcum = None
    for c0 in range(0, n, chunk_docs):
        c1 = min(c0 + chunk_docs, n)
        if c1 - c0 == n:
            d, t, f, p = docs, tfs, fns, pos
        else:
            d, t, f = docs[c0:c1], tfs[c0:c1], fns[c0:c1]
            p = None
            if pos is not None:
                if pcum is None:
                    pcum = np.concatenate(([0], np.cumsum(tfs)))
                p = pos[pcum[c0]:pcum[c1]]
        db, tb, fb, meta = codec.encode_postings(d, t, f, tf_cache)
        pb = codec.encode_positions(p, t) if pos is not None else None
        m = list(zip(*meta))
        rows.append((seg, term, first_chunk + c0 // chunk_docs, c1 - c0,
                     int(t.sum()), db, tb, fb, pb,
                     list(m[0]), list(m[1]), list(m[2]), list(m[3]),
                     list(m[4]), list(m[5])))
    return rows


def decode_chunk(row, with_positions: bool):
    """Inverse of :func:`posting_chunks` for one postings row (a pandas
    ``itertuples`` row) -> (doc_ids int64, tfs int64, fieldnorm ids
    uint8, flat positions int64 or None).  Reads ``docs``, ``tfs``,
    ``fns``, ``last_docs``, ``n_docs``, ``bits_doc``, ``bits_tf`` and, with
    positions, ``pos`` — never the WAND block-max columns."""
    meta = list(zip(row.last_docs, row.n_docs, row.bits_doc, row.bits_tf))
    docs, tfs = codec.decode_postings(bytes(row.docs), bytes(row.tfs), meta)
    pos = codec.decode_positions(bytes(row.pos), tfs) if with_positions \
        else None
    return docs, tfs, codec.decode_fns(bytes(row.fns)), pos


def decode_sentinel(row):
    """Inverse of :func:`sentinel_chunks` for one sentinel row -> (token
    count per doc uint32, fieldnorm id per doc uint8).  The fieldnorm ids
    are None when the row was read without its ``fns`` column."""
    fns = getattr(row, "fns", None)
    return (codec.vint_decode(bytes(row.docs), int(row.doc_freq)),
            None if fns is None else codec.decode_fns(bytes(fns)))


def sentinel_chunks(seg: int, sentinel: str, counts: np.ndarray,
                    fn_ids: np.ndarray, chunk_docs: int) -> list[tuple]:
    """Postings rows of one segment's fieldnorm sentinel chain: per-doc
    token counts (VInt) in ``docs`` and fieldnorm ids (u8) in ``fns``.

    Sentinel rows are CHUNKED like posting lists: chunk c covers docs
    [c*chunk_docs, (c+1)*chunk_docs).  A single whole-segment row would be
    a multi-GB cell at 10^9 docs; chunking keeps every row bounded and
    lets fieldnorm decoding parallelize.  An empty chain still gets one
    row, so every segment carries every chain."""
    n = len(counts)
    rows = []
    for c0 in range(0, n, chunk_docs) if n else [0]:
        c1 = min(c0 + chunk_docs, n)
        rows.append((
            seg, sentinel, c0 // chunk_docs, c1 - c0,
            int(counts[c0:c1].sum()),
            codec.vint_encode(counts[c0:c1].astype(np.uint32)), b"",
            fn_ids[c0:c1].tobytes(), None,
            [], [], [], [], [], [],
        ))
    return rows


def _doc_sentinel(field_cols: dict | None) -> str:
    """The sentinel chain whose doc counts are the index's doc counts: a
    multi-field index carries one chain PER FIELD, all covering the same
    docs, so exactly one (the first field's) is counted."""
    return fieldnorm_sentinel(next(iter(field_cols)) if field_cols else None)


def _is_sentinel():
    return F.col("term").startswith(FIELDNORM_SENTINEL)


# ---- the index-write path (see the module docstring) -------------------------

#: docmap parquet row-group size.  A top-k reads the keys of its k hits
#: through row-group (segment_ord, doc_id) statistics, so at any corpus
#: size it reads at most about k docmap row groups
DOCMAP_ROW_GROUP_BYTES = 1 << 20


def write_table(name: str, df: DataFrame, path: str,
                compression: str) -> None:
    """The write of index table ``name`` that build, ingest and merge
    share.  The docmap is sorted by ``(segment_ord, doc_id)`` per file,
    in row groups of about ``DOCMAP_ROW_GROUP_BYTES``
    (``IndexReader.lookup`` prunes on them)."""
    writer = df.write
    if name == "docmap":
        writer = (df.sortWithinPartitions("segment_ord", "doc_id").write
                  .option("parquet.block.size", DOCMAP_ROW_GROUP_BYTES))
    writer.mode("overwrite").option("compression", compression).parquet(path)


def segment_postings(df: DataFrame, cfg: IndexConfig) -> DataFrame:
    """Posting and sentinel rows of every segment: tokenize JVM-side, then
    one segment kernel per ``segment_ord`` group."""
    return (_tokenized_docs(df, cfg)
            .groupBy("segment_ord")
            .applyInArrow(_segment_kernel(cfg), schema=POSTINGS_SCHEMA))


def segment_docmap(df: DataFrame, cfg: IndexConfig) -> DataFrame:
    """(segment_ord, doc_id, key, fast fields[, sortv]) with doc ids in the
    order the segment kernel assigns them: key order, or (sortv, key)
    order on a sorted index.  A sorted index KEEPS its sort value on the
    docmap (the reference requires sort_by_field to be a fast field,
    index_meta.rs): the sorted merge re-derives the doc-id permutation
    from it (merge.py)."""
    spec = _sort_spec(cfg)
    order = [F.col("key")]
    if spec:
        order.insert(0, F.col("sortv").desc() if spec[1]
                     else F.col("sortv").asc())
    w = Window.partitionBy("segment_ord").orderBy(*order)
    keep = ["key", *(cfg.fast_field_cols or ()), *(["sortv"] if spec else [])]
    return (_segmented_docs(df, cfg).select("segment_ord", *keep)
            .withColumn("doc_id", (F.row_number().over(w) - 1).cast("int"))
            .select("segment_ord", "doc_id", *keep))


def term_stats_table(postings: DataFrame) -> DataFrame:
    """(term, doc_freq, total_tf) summed over segments; sentinel rows are
    not terms."""
    return (postings.filter(~_is_sentinel())
            .groupBy("term")
            .agg(F.sum("doc_freq").alias("doc_freq"),
                 F.sum("total_tf").alias("total_tf")))


def lineage_table(postings: DataFrame, field_cols: dict | None) -> DataFrame:
    """Per-segment lineage: (segment_ord, n_docs, n_tokens, posting_rows,
    postings, bytes).  ``n_tokens`` counts every field's tokens; ``bytes``
    is the encoded docs/tfs/fns/pos payload."""
    is_sent = _is_sentinel()
    return postings.groupBy("segment_ord").agg(
        F.sum(F.when(F.col("term") == _doc_sentinel(field_cols),
                     F.col("doc_freq"))).alias("n_docs"),
        F.sum(F.when(is_sent, F.col("total_tf"))).alias("n_tokens"),
        F.sum(F.when(~is_sent, 1).otherwise(0)).alias("posting_rows"),
        F.sum(F.when(~is_sent, F.col("doc_freq"))).alias("postings"),
        (F.sum(F.octet_length("docs")) + F.sum(F.octet_length("tfs"))
         + F.sum(F.octet_length("fns"))
         + F.sum(F.coalesce(F.octet_length("pos"), F.lit(0)))).alias("bytes"),
    )


def sentinel_stats(postings: DataFrame) -> tuple[list[tuple], int]:
    """The input of :func:`index_totals` read from written postings:
    (sentinel term, docs, tokens) of every sentinel row, and the number of
    segments they cover.  One column-pruned scan and one collect of
    O(segments x fields x chunks) rows — no aggregation job."""
    rows = (postings.filter(_is_sentinel())
            .select("segment_ord", "term", "doc_freq", "total_tf").collect())
    return ([(r["term"], r["doc_freq"], r["total_tf"]) for r in rows],
            len({r["segment_ord"] for r in rows}))


def index_totals(chains, num_segments: int,
                 field_cols: dict | None) -> dict:
    """The manifest ``totals``: num_docs, total_num_tokens, num_segments,
    avg_fieldnorm and, on a multi-field index, per-field ``fields``
    statistics (the reference keeps the average fieldnorm per field —
    bm25.rs uses the searched field's average, not a document-global
    one).

    ``chains``: (sentinel term, docs, tokens) rows, summed per chain, so
    any split works — per sentinel row (build, ingest), per chain of the
    alive docs (merge), or published totals plus a new batch (ingest)."""
    per: dict[str, list[int]] = {}
    for term, docs, tokens in chains:
        acc = per.setdefault(term, [0, 0])
        acc[0] += int(docs or 0)
        acc[1] += int(tokens or 0)
    num_docs = per.get(_doc_sentinel(field_cols), [0, 0])[0]
    total_tokens = sum(t for _d, t in per.values())

    def avg(tokens: int, docs: int) -> float:
        return (tokens / docs) if docs else 0.0

    totals = {
        "num_docs": num_docs,
        "total_num_tokens": total_tokens,
        "num_segments": int(num_segments),
        "avg_fieldnorm": avg(total_tokens, num_docs),
    }
    if field_cols:
        totals["fields"] = {
            term.split(FIELD_SEP, 1)[1]: {
                "num_docs": d, "total_num_tokens": t,
                "avg_fieldnorm": avg(t, d)}
            for term, (d, t) in per.items()}
    return totals


#: floor for auto segment sizing — the historical default count, so
#: small corpora resolve to exactly the pre-auto behavior
MIN_AUTO_SEGMENTS = 8

#: default per-kernel TEXT budget for auto segment sizing (bytes).
#: Peak segment-kernel worker RSS measures ~15-20x its input text bytes
#: (tokenize + composite-key sort + codec buffers + worker-reuse
#: allocator high-water marks) — MEASURED at the 16M-doc probe: 32
#: concurrent kernels at ~132 MB text each (128 MiB budget) OOM-killed
#: a 125 GB box (r7), as did ~300 MB kernels in r6, while ~165 MB and
#: smaller shapes complete.  64 MiB of text bounds a kernel near
#: ~1-1.3 GB, so 32 concurrent kernels hold ~32-40 GB — headroom for
#: the driver JVM and the page cache on the same box.  Override with
#: SPARK_GRAFT_KERNEL_TEXT_BUDGET.
DEFAULT_KERNEL_TEXT_BUDGET = 64 * 1024 * 1024

#: rows sampled for the average-document-size estimate
_SIZE_SAMPLE_ROWS = 20_000


def resolve_n_segments(spark: SparkSession, df: DataFrame,
                       cfg: IndexConfig) -> IndexConfig:
    """Memory-budgeted segment sizing (ref: index_writer.rs:182-195,
    274-299 — the reference flushes a segment to disk when a writer
    thread's memory arena reaches its per-thread budget, so NO corpus
    size can blow a writer's RAM).  The Spark analogue: with
    ``cfg.n_segments=None``, derive the count from corpus stats —
    ``ceil(estimated_text_bytes / kernel_text_budget)``, floored at
    ``MIN_AUTO_SEGMENTS`` — so one applyInArrow segment kernel's
    working set is bounded regardless of corpus size.  When that count
    would leave cluster cores idle AND each kernel would still get at
    least ``budget/8`` of text, the count widens to the session's
    ``defaultParallelism`` (override: ``SPARK_GRAFT_AUTO_WIDTH``) —
    smaller kernels are strictly safer, so width costs nothing.  The estimate is
    row count x average doc size over a bounded sample (one cheap
    metadata-ish count job + one ~20k-row limit scan; never a full
    text-column pass).  Explicit ``n_segments`` passes through
    untouched."""
    if cfg.n_segments is not None:
        return cfg
    if cfg.segment_expr:
        raise ValueError(
            "segment_expr pins the segment assignment; give an explicit "
            "n_segments consistent with it (auto sizing would disagree "
            "with the expression's ordinal space)")
    budget = int(os.environ.get("SPARK_GRAFT_KERNEL_TEXT_BUDGET",
                                DEFAULT_KERNEL_TEXT_BUDGET))
    text_cols = (list(cfg.field_cols.values()) if cfg.field_cols
                 else [cfg.text_col])
    size_expr = None
    for c in text_cols:
        term = F.coalesce(F.octet_length(F.col(c).cast("string")), F.lit(0))
        size_expr = term if size_expr is None else (size_expr + term)
    n_rows = df.count()
    avg = 0.0
    if n_rows:
        row = (df.select(size_expr.alias("b")).limit(_SIZE_SAMPLE_ROWS)
               .agg(F.avg("b")).first())
        avg = float(row[0] or 0.0)
    est_bytes = int(n_rows * avg)
    by_budget = -(-est_bytes // budget)
    # Fill the cluster width: more segments always SHRINK one kernel's
    # working set, so widening the count toward the session's core
    # count is free memory-wise and turns idle cores into build
    # throughput (measured: 2M docs auto=13 segs on local[32] read
    # 57k docs/s — 19 cores idle — vs 118k at 32 segs).  Only widen
    # when each kernel still gets a meaningful slice (budget/8) so
    # unit-scale corpora keep the historical 8-segment shape and
    # resume byte-stable.  SPARK_GRAFT_AUTO_WIDTH pins the width
    # (useful to keep shapes identical across differently-sized
    # clusters).
    width = int(os.environ.get("SPARK_GRAFT_AUTO_WIDTH", 0)) or \
        spark.sparkContext.defaultParallelism
    if est_bytes >= (budget // 8) * width:
        # ... and WAVE-ALIGN it: ceil to a multiple of the width, so
        # the kernel stage runs full waves instead of a straggler tail
        # (measured: 8M docs at 49 segs on 32 cores = 1.53 waves, the
        # second wave 17/32-occupied with same-size kernels — ~25%
        # wall lost vs an even 2x32 split of smaller kernels)
        by_budget = -(-max(by_budget, width) // width) * width
    n = max(MIN_AUTO_SEGMENTS, by_budget)
    return replace(cfg, n_segments=int(n))


def checked_config(cfg: IndexConfig) -> IndexConfig:
    """Validate ``record_option`` and normalize ``with_positions`` to it:
    Basic / WithFreqs never index positions (index_record_option.rs), so
    the manifest and the positional-query guard agree."""
    if cfg.record_option not in ("basic", "freqs", "positions"):
        raise ValueError(
            f"unknown record_option {cfg.record_option!r}; expected one "
            f"of ['basic', 'freqs', 'positions']")
    if cfg.record_option != "positions" and cfg.with_positions:
        return replace(cfg, with_positions=False)
    return cfg


def build_index(spark: SparkSession, df: DataFrame, out_dir: str,
                cfg: IndexConfig | None = None, resume: bool = True) -> dict:
    """Build (or resume building) an index from a pages-like DataFrame.

    Returns the manifest dict (also written to ``{out_dir}/meta.json``).
    """
    cfg = checked_config(resolve_n_segments(spark, df, cfg or IndexConfig()))
    os.makedirs(out_dir, exist_ok=True)

    # Pin the build's shuffle layout: AQE's partition coalescing optimizes
    # for bytes-per-partition, but the segment kernels are Python-CPU-bound,
    # so collapsing small shuffles to one partition serializes the build.
    # One shuffle partition per segment keeps every core busy.
    _saved = {
        "spark.sql.adaptive.coalescePartitions.enabled":
            spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true"),
        "spark.sql.shuffle.partitions":
            spark.conf.get("spark.sql.shuffle.partitions", "200"),
    }
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", str(cfg.n_segments))
    try:
        return _build_index_inner(spark, df, out_dir, cfg, resume)
    finally:
        for k, v in _saved.items():
            spark.conf.set(k, v)


def build_index_wide(spark: SparkSession, df: DataFrame, out_dir: str,
                     cfg: IndexConfig | None = None,
                     build_segments: int | None = None,
                     resume: bool = True) -> dict:
    """Build a FEW-big-segments index at full cluster width: build at
    ``build_segments`` (default: the cluster's default parallelism),
    then k-way-merge down to ``cfg.n_segments`` into ``out_dir``.

    The segment kernel is the unit of parallelism — one task per
    segment, the reference's writer-thread model (IndexWriter worker
    threads each filling their own segment, index_writer.rs) — so a
    DIRECT build at few segments underuses a wide cluster.  Building
    wide and merging down reaches the same final segment count much
    faster: SCALE_PROBE round 6, 8M docs -> 8 segments = 330 s direct
    vs 96 s build@32 + 26 s merge.  Query results are identical either
    way (global term stats are preserved by the merge; merged-index
    query parity is gate-checked by ``merged_search_term`` /
    ``merged_wand_or``).

    A ``sort_col`` config takes the SORTED merge path (merge.py
    _sorted_merge_stream): within every output segment doc ids follow
    the index sort key, and a full compaction (n_segments=1) is
    byte-identical to a direct sorted build (test_sorted_merge.py pins
    the md5 of the postings).  Falls
    back to the direct build when the config pins a custom
    ``segment_expr`` (the wide assignment would not respect it) or when
    ``build_segments`` does not exceed the target count.
    """
    import shutil

    from tantivy_spark.index.merge import merge_segments

    cfg = cfg or IndexConfig()
    cfg = resolve_n_segments(spark, df, cfg) if not cfg.segment_expr else cfg
    if build_segments is None:
        build_segments = max(cfg.n_segments or MIN_AUTO_SEGMENTS,
                             spark.sparkContext.defaultParallelism)
    if build_segments <= (cfg.n_segments or 0) or cfg.segment_expr:
        return build_index(spark, df, out_dir, cfg, resume=resume)
    wide_cfg = replace(cfg, n_segments=build_segments)
    tmp = out_dir.rstrip("/") + ".wide"
    build_index(spark, df, tmp, wide_cfg, resume=resume)
    manifest = merge_segments(spark, tmp, out_dir,
                              n_target_segments=cfg.n_segments,
                              compression=cfg.compression)
    shutil.rmtree(tmp, ignore_errors=True)
    return manifest


def _build_index_inner(spark: SparkSession, df: DataFrame, out_dir: str,
                       cfg: IndexConfig, resume: bool) -> dict:
    manifest_path = os.path.join(out_dir, "meta.json")
    manifest: dict = {"version": 1, "config": asdict(cfg), "stages": {}}
    if resume and os.path.exists(manifest_path):
        with open(manifest_path) as f:
            old = json.load(f)
        if old.get("config") == manifest["config"]:
            manifest = old
        else:
            resume = False  # config changed: full rebuild

    def path(table: str) -> str:
        return os.path.join(out_dir, table)

    def run_stages(stages: dict) -> None:
        """Write the stages not yet done, concurrently (each pair is
        independent, so the small job fills slots the big one leaves
        idle); each is checkpointed individually for resume."""
        todo = {name: table for name, table in stages.items()
                if not (resume and _stage_done(out_dir, name))}
        if not todo:
            return

        def timed(name: str, table) -> float:
            t0 = time.time()
            write_table(name, table(), path(name), cfg.compression)
            return time.time() - t0

        with ThreadPoolExecutor(max_workers=2) as ex:
            futs = {name: ex.submit(timed, name, table)
                    for name, table in todo.items()}
            for name, fut in futs.items():
                manifest["stages"][name] = {"wall_sec": fut.result(),
                                            "status": "done"}
        _write_manifest(manifest_path, manifest)

    # docmap || postings: independent scans of the source; then
    # term_stats || lineage over the compact postings output
    run_stages({"docmap": lambda: segment_docmap(df, cfg),
                "postings": lambda: segment_postings(df, cfg)})
    run_stages({
        "term_stats": lambda: term_stats_table(
            spark.read.parquet(path("postings"))),
        "lineage": lambda: lineage_table(
            spark.read.parquet(path("postings")), cfg.field_cols),
    })

    if "totals" not in manifest:
        totals = index_totals(
            *sentinel_stats(spark.read.parquet(path("postings"))),
            cfg.field_cols)
        manifest["totals"] = totals
        num_docs, total_tokens = totals["num_docs"], totals["total_num_tokens"]
        wall = sum(s.get("wall_sec", 0.0) for s in manifest["stages"].values())
        manifest["metrics"] = {
            "build_wall_sec": wall,
            "docs_per_sec": (num_docs / wall) if wall > 0 else None,
            "tokens_per_sec": (total_tokens / wall) if wall > 0 else None,
        }
        _write_manifest(manifest_path, manifest)
    return manifest


def _write_manifest(path: str, manifest: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1, default=str)
    os.replace(tmp, path)  # atomic publish, analogue of meta.json swap
