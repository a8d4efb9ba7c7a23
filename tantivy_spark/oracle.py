"""DuckDB oracle-SQL generator mirroring the exact scorer.

For every Query tree the :class:`OracleBuilder` emits a self-contained
DuckDB SQL statement over the raw ``documents`` view that reproduces the
whole engine — analyzer, DocAddress assignment, quantized fieldnorms,
BM25, tie-break — with the *same expression shapes and the same baked
constants* as ``query/exact.py``, so Spark and DuckDB agree on every
double bit (the only transcendental, ``ln``, may differ by 1 ulp across
libms, which the 4-decimal output rounding absorbs).

DocAddress convention for oracle-checked indexes: ``segment_ord =
doc_id % n_segments``, ``doc_id_within = row_number() over (partition by
segment order by doc_id) - 1`` — expressible in both engines.
"""

from __future__ import annotations

from tantivy_spark import B, K1, MAX_TOKEN_BYTES
from tantivy_spark.analyzer import RE2_TOKEN_PATTERN
from tantivy_spark.fieldnorm import sql_quantize_fieldnorm
from tantivy_spark.query import ast

_W = 1.0 + K1            # 2.2
_KB1 = K1 * (1.0 - B)    # 0.3…
_KB = K1 * B             # 0.9


FIELD_SEP = "\x1f"


class OracleBuilder:
    def __init__(self, table: str = "documents", id_col: str = "doc_id",
                 text_col: str = "text", n_segments: int = 8,
                 fields: dict[str, str] | None = None,
                 sdoc_order: str = "did",
                 sdoc_aux: list[str] | None = None,
                 seg_expr: str | None = None,
                 tf_one: bool = False):
        """``fields``: multi-field mode — ordered {field: SQL text expr}.
        Term queries must arrive FIELD-QUALIFIED (``{field}\\x1f{term}``,
        i.e. the same tree the multi-field searcher executes); each field
        scores with its own token stream and average fieldnorm.

        ``sdoc_order``: the within-segment doc-id assignment order —
        "did" mirrors the default key-ordered build; a SORTED index
        (IndexConfig.sort_col) uses e.g. "n_chars DESC, did ASC" so the
        oracle's (seg, sdoc) tie-break addresses match the sorted
        build's.  Columns the order expression needs beyond ``did``
        must be listed in ``sdoc_aux`` (they are carried through the
        docs0 CTE).

        ``seg_expr``: SQL expression (over ``did`` + aux columns) for a
        doc's segment ordinal, replacing the default ``did % n`` — a
        MERGED index groups source segments into output segments, so
        its oracle replays the group assignment here (ref merger.rs
        sorted doc-id mapping, merger_sorted_index_test.rs).

        ``tf_one``: IndexRecordOption::Basic parity (ref
        index_record_option.rs:19-28) — the index stores docids only,
        so term frequency reads as 1 in BM25 (the reference's
        TermScorer on a Basic field)."""
        self.table = table
        self.id = id_col
        self.text = text_col
        self.n = n_segments
        self.fields = dict(fields) if fields else None
        self.sdoc_order = sdoc_order
        self.sdoc_aux = list(sdoc_aux or ())
        self.seg_expr = seg_expr or f"did % {n_segments}"
        self.tf_one = tf_one
        self._ctr = 0

    def _toks_expr(self, text_expr: str) -> str:
        return (
            f"list_transform(list_filter(regexp_extract_all({text_expr}, "
            f"'{RE2_TOKEN_PATTERN}'), t -> strlen(t) < {MAX_TOKEN_BYTES}), t -> lower(t))"
        )

    # ---------------------------------------------------------------- base
    def _base_ctes(self, need_positions: bool) -> list[str]:
        if self.fields:
            tok_cols = ", ".join(
                f"{self._toks_expr(expr)} AS toks_{f}"
                for f, expr in self.fields.items())
            ntok_cols = ", ".join(f"len(toks_{f}) AS ntok_{f}"
                                  for f in self.fields)
            toks_pass = ", ".join(f"toks_{f}" for f in self.fields)
            aux = "".join(f", {c}" for c in self.sdoc_aux)
            ctes = [
                f"docs0 AS (SELECT {self.id} AS did{aux}, {tok_cols} "
                f"FROM {self.table})",
                ("docs AS (SELECT did, {seg} AS seg, "
                 "row_number() OVER (PARTITION BY {seg} "
                 "ORDER BY {order}) - 1 "
                 "AS sdoc, {ntok}, {toks} FROM docs0)"
                 ).format(seg=self.seg_expr, order=self.sdoc_order,
                          ntok=ntok_cols, toks=toks_pass),
            ]
            for f in self.fields:
                ctes.append(
                    f"stats_{f} AS (SELECT CAST(count(*) AS DOUBLE) AS nn, "
                    f"CAST(sum(ntok_{f}) AS DOUBLE)/CAST(count(*) AS DOUBLE) "
                    f"AS avgfn FROM docs)")
                ctes.append(
                    f"tok_{f} AS (SELECT did, unnest(toks_{f}) AS tk FROM docs)")
            if need_positions:
                for f, expr in self.fields.items():
                    raw = f"regexp_extract_all({expr}, '{RE2_TOKEN_PATTERN}')"
                    ctes.append(
                        f"tokpos_{f} AS (SELECT did, lower(raw[i]) AS tk, "
                        f"i - 1 AS pos FROM "
                        f"(SELECT {self.id} AS did, {raw} AS raw "
                        f"FROM {self.table}), "
                        f"LATERAL (SELECT unnest(generate_series(1, len(raw)))"
                        f" AS i) g WHERE strlen(raw[i]) < {MAX_TOKEN_BYTES})")
            return ctes
        toks = self._toks_expr(self.text)
        aux = "".join(f", {c}" for c in self.sdoc_aux)
        ctes = [
            f"docs0 AS (SELECT {self.id} AS did{aux}, {toks} AS toks "
            f"FROM {self.table})",
            (
                "docs AS (SELECT did, {seg} AS seg, "
                "row_number() OVER (PARTITION BY {seg} "
                "ORDER BY {order}) - 1 AS sdoc, "
                "len(toks) AS ntok, toks FROM docs0)"
            ).format(seg=self.seg_expr, order=self.sdoc_order),
            "stats AS (SELECT CAST(count(*) AS DOUBLE) AS nn, "
            "CAST(sum(ntok) AS DOUBLE)/CAST(count(*) AS DOUBLE) AS avgfn FROM docs)",
            "tok AS (SELECT did, unnest(toks) AS tk FROM docs)",
        ]
        if need_positions:
            raw = f"regexp_extract_all({self.text}, '{RE2_TOKEN_PATTERN}')"
            ctes.append(
                f"tokpos AS (SELECT did, lower(raw[i]) AS tk, i - 1 AS pos FROM "
                f"(SELECT {self.id} AS did, {raw} AS raw FROM {self.table}), "
                f"LATERAL (SELECT unnest(generate_series(1, len(raw))) AS i) g "
                f"WHERE strlen(raw[i]) < {MAX_TOKEN_BYTES})"
            )
        return ctes

    def _name(self, prefix: str) -> str:
        self._ctr += 1
        return f"{prefix}_{self._ctr}"

    # ----------------------------------------------------------- term score
    def _term_sources(self, term: str) -> tuple[str, str, str, str]:
        """(bare_term, tok_cte, stats_cte, ntok_col) — field resolved from
        the qualified term on multi-field oracles."""
        if self.fields:
            if FIELD_SEP in term:
                fld, bare = term.split(FIELD_SEP, 1)
            else:
                fld, bare = next(iter(self.fields)), term
            if fld not in self.fields:
                raise ValueError(f"unknown field in qualified term: {fld!r}")
            return bare, f"tok_{fld}", f"stats_{fld}", f"d.ntok_{fld}"
        return term, "tok", "stats", "d.ntok"

    def _term_cte(self, term: str, boost: float, ctes: list[str]) -> str:
        bare, tok_src, stats_src, ntok_col = self._term_sources(term)
        t = bare.replace("'", "''")
        tf = self._name("tf")
        sc = self._name("sc")
        # tf_one: a Basic-record index stores docids only — tf reads 1
        tf_expr = "CAST(1 AS DOUBLE)" if self.tf_one \
            else "CAST(count(*) AS DOUBLE)"
        ctes.append(
            f"{tf} AS (SELECT did, {tf_expr} AS tf "
            f"FROM {tok_src} WHERE tk = '{t}' GROUP BY did)"
        )
        dfq = f"(SELECT CAST(count(*) AS DOUBLE) FROM {tf})"
        weight = (f"(ln(1.0 + ((SELECT nn FROM {stats_src}) - {dfq} + 0.5) "
                  f"/ ({dfq} + 0.5)) * {_W!r})")
        if boost != 1.0:
            weight = f"({weight} * {float(boost)!r})"
        qn = sql_quantize_fieldnorm(ntok_col)
        score = (
            f"{weight} * t.tf / (t.tf + {_KB1!r} + "
            f"({_KB!r} / (SELECT avgfn FROM {stats_src})) * CAST({qn} AS DOUBLE))"
        )
        ctes.append(
            f"{sc} AS (SELECT t.did, {score} AS score "
            f"FROM {tf} t JOIN docs d ON t.did = d.did)"
        )
        return sc

    # ------------------------------------------------------------ lowering
    def _lower(self, q: ast.Query, boost: float, ctes: list[str]) -> str:
        """Returns the CTE name holding (did, score) for matching docs."""
        if isinstance(q, ast.TermQuery):
            return self._term_cte(q.term, boost, ctes)
        if isinstance(q, ast.BoostQuery):
            return self._lower(q.child, boost * q.boost, ctes)
        if isinstance(q, ast.ConstScoreQuery):
            child = self._lower(q.child, 1.0, ctes)
            sc = self._name("cs")
            ctes.append(
                f"{sc} AS (SELECT did, {float(q.score) * boost!r} AS score FROM {child})"
            )
            return sc
        if isinstance(q, ast.AllQuery):
            sc = self._name("all")
            ctes.append(f"{sc} AS (SELECT did, {1.0 * boost!r} AS score FROM docs)")
            return sc
        if isinstance(q, ast.EmptyQuery):
            sc = self._name("emp")
            ctes.append(f"{sc} AS (SELECT did, 0.0 AS score FROM docs WHERE 1=0)")
            return sc
        if isinstance(q, ast.TermSetQuery):
            sc = self._name("ts")
            lits = ", ".join("'" + t.replace("'", "''") + "'" for t in q.set_terms)
            ctes.append(
                f"{sc} AS (SELECT DISTINCT did, {1.0 * boost!r} AS score "
                f"FROM tok WHERE tk IN ({lits}))"
            )
            return sc
        if isinstance(q, ast.PhraseQuery):
            return self._phrase(q, boost, ctes)
        if isinstance(q, ast.PhrasePrefixQuery):
            return self._phrase_prefix(q, boost, ctes)
        if isinstance(q, ast.RegexPhraseQuery):
            return self._regex_phrase(q, boost, ctes)
        if isinstance(q, ast.DisjunctionMaxQuery):
            subs = [self._lower(c, 1.0, ctes) for c in q.disjuncts]
            acc = self._join_chain(subs, "FULL OUTER", ctes)
            cols = [f"COALESCE(s_{i}, 0.0)" for i in range(len(subs))]
            mx = f"greatest({', '.join(cols)})" if len(cols) > 1 else cols[0]
            total = self._add_chain(cols)
            score = f"({mx} + {float(q.tie_breaker)!r} * ({total} - {mx}))"
            if boost != 1.0:
                score = f"({score} * {float(boost)!r})"
            out = self._name("dm")
            ctes.append(f"{out} AS (SELECT did, {score} AS score FROM {acc})")
            return out
        if isinstance(q, ast.BooleanQuery):
            return self._boolean(q, boost, ctes)
        raise NotImplementedError(type(q).__name__)

    @staticmethod
    def _add_chain(cols: list[str]) -> str:
        expr = cols[0]
        for c in cols[1:]:
            expr = f"({expr} + {c})"
        return expr

    def _join_chain(self, subs: list[str], how: str, ctes: list[str]) -> str:
        """Chain-join clause CTEs on did, tagging scores s_0..s_{k-1};
        association order fixed left-to-right to mirror exact.py."""
        acc = self._name("j")
        ctes.append(f"{acc} AS (SELECT did, score AS s_0 FROM {subs[0]})")
        for i, nxt in enumerate(subs[1:], start=1):
            nacc = self._name("j")
            prev_cols = ", ".join(
                f"COALESCE(a.s_{j}, NULL) AS s_{j}" for j in range(i)
            )
            ctes.append(
                f"{nacc} AS (SELECT COALESCE(a.did, b.did) AS did, {prev_cols}, "
                f"b.score AS s_{i} FROM {acc} a {how} JOIN {nxt} b ON a.did = b.did)"
            )
            acc = nacc
        return acc

    def _boolean(self, q: ast.BooleanQuery, boost: float, ctes: list[str]) -> str:
        musts = [c for occ, c in q.clauses if occ == ast.Occur.MUST]
        shoulds = [c for occ, c in q.clauses if occ == ast.Occur.SHOULD]
        nots = [c for occ, c in q.clauses if occ == ast.Occur.MUST_NOT]
        if musts:
            m_subs = [self._lower(c, 1.0, ctes) for c in musts]
            acc = self._join_chain(m_subs, "INNER", ctes)
            s_subs = [self._lower(c, 1.0, ctes) for c in shoulds]
            # left joins for shoulds
            for j, nxt in enumerate(s_subs):
                nacc = self._name("j")
                base_cols = ", ".join(
                    [f"a.s_{i} AS s_{i}" for i in range(len(m_subs))]
                    + [f"a.t_{jj} AS t_{jj}" for jj in range(j)]
                )
                ctes.append(
                    f"{nacc} AS (SELECT a.did AS did, {base_cols}, b.score AS t_{j} "
                    f"FROM {acc} a LEFT JOIN {nxt} b ON a.did = b.did)"
                )
                acc = nacc
            cols = [f"s_{i}" for i in range(len(m_subs))] + [
                f"COALESCE(t_{j}, 0.0)" for j in range(len(s_subs))
            ]
            where = ""
        else:
            s_subs = [self._lower(c, 1.0, ctes) for c in shoulds]
            acc = self._join_chain(s_subs, "FULL OUTER", ctes)
            matched = " + ".join(
                f"(CASE WHEN s_{j} IS NOT NULL THEN 1 ELSE 0 END)"
                for j in range(len(s_subs))
            )
            flt = self._name("msm")
            ctes.append(
                f"{flt} AS (SELECT * FROM {acc} WHERE ({matched}) >= {q.minimum_should_match})"
            )
            acc = flt
            cols = [f"COALESCE(s_{j}, 0.0)" for j in range(len(s_subs))]
        score = self._add_chain(cols)
        if boost != 1.0:
            score = f"(({score}) * {float(boost)!r})"
        out = self._name("bq")
        ctes.append(f"{out} AS (SELECT did, {score} AS score FROM {acc})")
        for c in nots:
            nf = self._lower(c, 1.0, ctes)
            anti = self._name("an")
            ctes.append(
                f"{anti} AS (SELECT o.did, o.score FROM {out} o "
                f"WHERE NOT EXISTS (SELECT 1 FROM {nf} x WHERE x.did = o.did))"
            )
            out = anti
        return out

    def _pos_source(self, term: str) -> str:
        """tokpos CTE for a (possibly field-qualified) phrase term."""
        if self.fields:
            fld = term.split(FIELD_SEP, 1)[0] if FIELD_SEP in term \
                else next(iter(self.fields))
            return f"tokpos_{fld}"
        return "tokpos"

    def _phrase(self, q: ast.PhraseQuery, boost: float, ctes: list[str]) -> str:
        terms = q.phrase_terms
        # every term of one phrase shares a field; stats follow it
        _b0, _tok0, stats_src, ntok_col = self._term_sources(terms[0])
        tokpos_src = self._pos_source(terms[0])
        ph_names = []
        df_parts = []
        for i, t in enumerate(terms):
            bare = self._term_sources(t)[0]
            tt = bare.replace("'", "''")
            ph = self._name("ph")
            ctes.append(
                f"{ph} AS (SELECT did, pos FROM {tokpos_src} WHERE tk = '{tt}')"
            )
            ph_names.append(ph)
            df_parts.append(
                f"ln(1.0 + ((SELECT nn FROM {stats_src}) - "
                f"(SELECT CAST(count(DISTINCT did) AS DOUBLE) FROM {ph}) + 0.5) / "
                f"((SELECT CAST(count(DISTINCT did) AS DOUBLE) FROM {ph}) + 0.5))"
            )
        offs = list(q.offsets) if q.offsets is not None else list(range(len(terms)))
        max_off = max(offs)
        joined = self._name("phj")
        if q.slop == 0:
            join_sql = f"{ph_names[0]} p0"
            for i in range(1, len(ph_names)):
                join_sql += (
                    f" JOIN {ph_names[i]} p{i} ON p0.did = p{i}.did "
                    f"AND p{i}.pos = p0.pos + {offs[i] - offs[0]}"
                )
            ctes.append(
                f"{joined} AS (SELECT p0.did, CAST(count(*) AS DOUBLE) AS tf "
                f"FROM {join_sql} GROUP BY p0.did)"
            )
        else:
            # Reference sloppy semantics (phrase_scorer.rs:145-190):
            # shifted positions, abs-diff <= slop, greedy two-pointer
            # with best-left advance — replayed per candidate doc as a
            # recursive-CTE walk (the snippet-oracle pattern).  The
            # >2-term carrying-slop variant holds list state per step
            # and is covered by golden-engine + reference vectors in
            # pytest instead.
            if len(terms) != 2:
                raise NotImplementedError(
                    "DuckDB sloppy-phrase oracle supports 2-term phrases")
            self._recursive = True
            slop = int(q.slop)
            shift0, shift1 = max_off - offs[0], max_off - offs[1]
            lists = self._name("phl")
            ctes.append(
                f"{lists} AS (SELECT a.did, "
                f"list(a.pos + {shift0} ORDER BY a.pos) AS lpos, "
                f"any_value(b.rpos) AS rpos FROM {ph_names[0]} a JOIN "
                f"(SELECT did, list(pos + {shift1} ORDER BY pos) AS rpos "
                f"FROM {ph_names[1]} GROUP BY did) b "
                f"ON a.did = b.did GROUP BY a.did)"
            )
            walk = self._name("phw")
            ctes.append(
                f"{walk} AS (SELECT did, lpos, rpos, 1 AS li, 1 AS ri, 0 AS cnt "
                f"FROM {lists} "
                f"UNION ALL SELECT did, lpos, rpos, "
                f"CASE WHEN abs(lpos[li] - rpos[ri]) <= {slop} "
                f"THEN greatest(li, len(list_filter(lpos, x -> x <= rpos[ri]))) + 1 "
                f"WHEN lpos[li] < rpos[ri] THEN li + 1 ELSE li END AS li, "
                f"CASE WHEN abs(lpos[li] - rpos[ri]) <= {slop} THEN ri + 1 "
                f"WHEN lpos[li] < rpos[ri] THEN ri ELSE ri + 1 END AS ri, "
                f"cnt + CASE WHEN abs(lpos[li] - rpos[ri]) <= {slop} THEN 1 ELSE 0 END AS cnt "
                f"FROM {walk} WHERE li <= len(lpos) AND ri <= len(rpos))"
            )
            ctes.append(
                f"{joined} AS (SELECT did, CAST(max(cnt) AS DOUBLE) AS tf "
                f"FROM {walk} GROUP BY did HAVING max(cnt) > 0)"
            )
        idf_sum = self._add_chain([f"({p})" for p in df_parts])
        weight = f"(({idf_sum}) * {_W!r})"
        if boost != 1.0:
            weight = f"({weight} * {float(boost)!r})"
        qn = sql_quantize_fieldnorm(ntok_col)
        sc = self._name("sc")
        ctes.append(
            f"{sc} AS (SELECT t.did, {weight} * t.tf / (t.tf + {_KB1!r} + "
            f"({_KB!r} / (SELECT avgfn FROM {stats_src})) * CAST({qn} AS DOUBLE)) AS score "
            f"FROM {joined} t JOIN docs d ON t.did = d.did)"
        )
        return sc

    def _phrase_prefix(self, q: ast.PhrasePrefixQuery, boost: float,
                       ctes: list[str]) -> str:
        """Mirror of the PhrasePrefixQuery lowering through
        ``ExactSearcher._positional``: expansions are the first
        max_expansions dictionary terms with the prefix in lexicographic
        order; each expansion forms one slop-0 phrase clause; a doc
        scores via its best clause."""
        if self.fields:
            raise NotImplementedError(
                "multi-field oracle: phrase-prefix not supported")
        pre = q.prefix.replace("'", "''")
        exp = self._name("exp")
        ctes.append(
            f"{exp} AS (SELECT tk FROM (SELECT DISTINCT tk FROM tok "
            f"WHERE tk LIKE '{pre}%' ORDER BY tk LIMIT {int(q.max_expansions)}))")
        ph_names, df_parts = [], []
        for t in q.phrase_terms:
            tt = t.replace("'", "''")
            ph = self._name("ph")
            ctes.append(f"{ph} AS (SELECT did, pos FROM tokpos WHERE tk = '{tt}')")
            ph_names.append(ph)
            df_parts.append(
                f"ln(1.0 + ((SELECT nn FROM stats) - "
                f"(SELECT CAST(count(DISTINCT did) AS DOUBLE) FROM {ph}) + 0.5) / "
                f"((SELECT CAST(count(DISTINCT did) AS DOUBLE) FROM {ph}) + 0.5))")
        pe = self._name("pe")
        ctes.append(f"{pe} AS (SELECT did, pos, tk FROM tokpos "
                    f"WHERE tk IN (SELECT tk FROM {exp}))")
        dfe = self._name("dfe")
        ctes.append(f"{dfe} AS (SELECT tk, CAST(count(DISTINCT did) AS DOUBLE) "
                    f"AS df FROM {pe} GROUP BY tk)")
        n = len(ph_names)
        join_sql = f"{ph_names[0]} p0"
        for i in range(1, n):
            join_sql += (f" JOIN {ph_names[i]} p{i} ON p0.did = p{i}.did "
                         f"AND p{i}.pos = p0.pos + {i}")
        join_sql += f" JOIN {pe} pe ON p0.did = pe.did AND pe.pos = p0.pos + {n}"
        phj = self._name("phj")
        ctes.append(f"{phj} AS (SELECT p0.did, pe.tk AS e, "
                    f"CAST(count(*) AS DOUBLE) AS tf "
                    f"FROM {join_sql} GROUP BY p0.did, pe.tk)")
        idf_fixed = self._add_chain([f"({p})" for p in df_parts])
        idf_e = "ln(1.0 + ((SELECT nn FROM stats) - x.df + 0.5) / (x.df + 0.5))"
        weight = f"((({idf_fixed}) + {idf_e}) * {_W!r})"
        if boost != 1.0:
            weight = f"({weight} * {float(boost)!r})"
        qn = sql_quantize_fieldnorm("d.ntok")
        sc = self._name("sc")
        ctes.append(
            f"{sc} AS (SELECT t.did, max({weight} * t.tf / (t.tf + {_KB1!r} + "
            f"({_KB!r} / (SELECT avgfn FROM stats)) * CAST({qn} AS DOUBLE))) AS score "
            f"FROM {phj} t JOIN {dfe} x ON t.e = x.tk "
            f"JOIN docs d ON t.did = d.did GROUP BY t.did)")
        return sc

    def _regex_phrase(self, q: ast.RegexPhraseQuery, boost: float,
                      ctes: list[str]) -> str:
        """Mirror of the RegexPhraseQuery lowering through
        ``ExactSearcher._positional``: each slot expands to the first
        max_expansions dictionary terms matching its regex (lexicographic);
        a phrase start is an aligned position where every slot matched;
        scored with the summed per-slot idf (slot df = docs containing any
        slot term)."""
        if self.fields:
            raise NotImplementedError(
                "multi-field oracle: regex-phrase not supported")
        pp_names, df_parts = [], []
        for i, pat in enumerate(q.patterns):
            p = pat.replace("'", "''")
            sl = self._name("sl")
            ctes.append(
                f"{sl} AS (SELECT tk FROM (SELECT DISTINCT tk FROM tok "
                f"WHERE regexp_full_match(tk, '{p}') ORDER BY tk "
                f"LIMIT {int(q.max_expansions)}))")
            pp = self._name("pp")
            ctes.append(
                f"{pp} AS (SELECT DISTINCT did, pos - {i} AS apos FROM tokpos "
                f"WHERE tk IN (SELECT tk FROM {sl}))")
            pp_names.append(pp)
            df_parts.append(
                f"ln(1.0 + ((SELECT nn FROM stats) - "
                f"(SELECT CAST(count(DISTINCT did) AS DOUBLE) FROM tokpos "
                f"WHERE tk IN (SELECT tk FROM {sl})) + 0.5) / "
                f"((SELECT CAST(count(DISTINCT did) AS DOUBLE) FROM tokpos "
                f"WHERE tk IN (SELECT tk FROM {sl})) + 0.5))")
        join_sql = f"{pp_names[0]} p0"
        for i in range(1, len(pp_names)):
            join_sql += (f" JOIN {pp_names[i]} p{i} ON p0.did = p{i}.did "
                         f"AND p0.apos = p{i}.apos")
        phj = self._name("phj")
        ctes.append(f"{phj} AS (SELECT p0.did, CAST(count(*) AS DOUBLE) AS tf "
                    f"FROM {join_sql} GROUP BY p0.did)")
        idf_sum = self._add_chain([f"({p})" for p in df_parts])
        weight = f"(({idf_sum}) * {_W!r})"
        if boost != 1.0:
            weight = f"({weight} * {float(boost)!r})"
        qn = sql_quantize_fieldnorm("d.ntok")
        sc = self._name("sc")
        ctes.append(
            f"{sc} AS (SELECT t.did, {weight} * t.tf / (t.tf + {_KB1!r} + "
            f"({_KB!r} / (SELECT avgfn FROM stats)) * CAST({qn} AS DOUBLE)) AS score "
            f"FROM {phj} t JOIN docs d ON t.did = d.did)")
        return sc

    # ------------------------------------------------------------- outputs
    def _needs_positions(self, q: ast.Query) -> bool:
        if isinstance(q, (ast.PhraseQuery, ast.PhrasePrefixQuery,
                          ast.RegexPhraseQuery)):
            return True
        if isinstance(q, ast.BooleanQuery):
            return any(self._needs_positions(c) for _o, c in q.clauses)
        if isinstance(q, (ast.BoostQuery, ast.ConstScoreQuery)):
            return self._needs_positions(q.child)
        if isinstance(q, ast.DisjunctionMaxQuery):
            return any(self._needs_positions(c) for c in q.disjuncts)
        return False

    def topk_sql(self, q: ast.Query, k: int = 10, offset: int = 0) -> str:
        """Top-k statement with columns (rank BIGINT, doc_id BIGINT,
        score_r DOUBLE), tie-break (score desc, seg asc, sdoc asc)."""
        self._ctr = 0
        self._recursive = False
        ctes = self._base_ctes(self._needs_positions(q))
        final = self._lower(q, 1.0, ctes)
        body = ",\n".join(ctes)
        rec = "RECURSIVE " if self._recursive else ""
        return (
            f"WITH {rec}{body}\n"
            f"SELECT CAST(row_number() OVER "
            f"(ORDER BY s.score DESC, d.seg ASC, d.sdoc ASC) AS BIGINT) AS rank, "
            f"CAST(s.did AS BIGINT) AS doc_id, round(s.score, 4) AS score_r "
            f"FROM {final} s JOIN docs d ON s.did = d.did "
            f"ORDER BY s.score DESC, d.seg ASC, d.sdoc ASC LIMIT {k} OFFSET {offset}"
        )

    def count_sql(self, q: ast.Query) -> str:
        """Count statement with column (cnt BIGINT)."""
        self._ctr = 0
        self._recursive = False
        ctes = self._base_ctes(self._needs_positions(q))
        final = self._lower(q, 1.0, ctes)
        body = ",\n".join(ctes)
        rec = "RECURSIVE " if self._recursive else ""
        return f"WITH {rec}{body}\nSELECT CAST(count(*) AS BIGINT) AS cnt FROM {final}"


def _esc_sql(expr: str) -> str:
    """DuckDB expression: the snippet kernel's minimal HTML escaping
    (snippet.py _escape; reference snippet/mod.rs to_html)."""
    return ("replace(replace(replace(replace(replace(" + expr +
            ", '&', '&amp;'), '<', '&lt;'), '>', '&gt;'), "
            "'\"', '&quot;'), chr(39), '&#x27;')")


def snippet_sql(top_sql: str, term: str, table: str = "documents",
                id_col: str = "doc_id", text_col: str = "text",
                max_num_chars: int = 150) -> str:
    """DuckDB oracle for SnippetGenerator output over a top-k frame
    (reference: src/snippet/mod.rs — search_fragments greedy candidate
    stream, select_best_fragment score-then-earliest ordering, to_html
    highlighting).

    The sequential pieces are recursive CTEs: token offsets replay the
    tokenizer scan (the next alphanumeric run after the previous token's
    end IS the next token, so a forward strpos is exact), and fragment
    starts replay the greedy overflow walk.  Matches the Arrow kernel
    byte-for-byte on ASCII corpora (offsets are chars in Python, bytes
    in strpos — identical for single-byte text).

    ``top_sql`` must yield (rank, doc_id, ...); output is
    (rank BIGINT, doc_id BIGINT, snippet VARCHAR)."""
    t = term.lower()
    return f"""
WITH topq AS ({top_sql}),
toks0 AS (
  SELECT t.rank, d.{id_col} AS doc_id, d.{text_col} AS text,
         regexp_extract_all(d.{text_col}, '[\\p{{L}}\\p{{N}}]+') AS lst
  FROM topq t JOIN {table} d ON t.doc_id = d.{id_col}
),
tokpos AS (
  WITH RECURSIVE p(doc_id, i, tok, s0, e0) AS (
    SELECT doc_id, 1, lst[1], strpos(text, lst[1]) - 1,
           strpos(text, lst[1]) - 1 + length(lst[1])
    FROM toks0 WHERE len(lst) >= 1
    UNION ALL
    SELECT p.doc_id, p.i + 1, t.lst[p.i + 1],
           p.e0 + strpos(substr(t.text, p.e0 + 1), t.lst[p.i + 1]) - 1,
           p.e0 + strpos(substr(t.text, p.e0 + 1), t.lst[p.i + 1]) - 1
             + length(t.lst[p.i + 1])
    FROM p JOIN toks0 t ON p.doc_id = t.doc_id
    WHERE p.i + 1 <= len(t.lst)
  ) SELECT * FROM p
),
frags AS (
  WITH RECURSIVE f(doc_id, fs) AS (
    SELECT DISTINCT doc_id, 0 FROM toks0
    UNION ALL
    SELECT f.doc_id,
           (SELECT min(tp.s0) FROM tokpos tp
            WHERE tp.doc_id = f.doc_id AND tp.s0 >= f.fs
              AND tp.e0 - f.fs > {max_num_chars})
    FROM f
    WHERE (SELECT min(tp.s0) FROM tokpos tp
           WHERE tp.doc_id = f.doc_id AND tp.s0 >= f.fs
             AND tp.e0 - f.fs > {max_num_chars}) IS NOT NULL
  ) SELECT * FROM f
),
scored AS (
  SELECT fr.doc_id, fr.fs,
         sum(CASE WHEN lower(tp.tok) = '{t}' THEN 1 ELSE 0 END) AS score,
         max(tp.e0) AS stop
  FROM frags fr JOIN tokpos tp
    ON tp.doc_id = fr.doc_id AND tp.s0 >= fr.fs
   AND tp.e0 - fr.fs <= {max_num_chars}
  GROUP BY 1, 2
),
best AS (
  SELECT doc_id, fs, stop FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id
      ORDER BY score DESC, fs ASC, stop ASC) AS rn
    FROM scored WHERE score > 0) WHERE rn = 1
),
hl AS (
  SELECT b.doc_id, b.fs, b.stop, t0.text, tp.s0, tp.e0,
         lag(tp.e0) OVER (PARTITION BY b.doc_id ORDER BY tp.s0) AS prev_e,
         row_number() OVER (PARTITION BY b.doc_id ORDER BY tp.s0 DESC)
           AS rdesc
  FROM best b
  JOIN toks0 t0 ON t0.doc_id = b.doc_id
  JOIN tokpos tp ON tp.doc_id = b.doc_id AND tp.s0 >= b.fs
    AND tp.e0 - b.fs <= {max_num_chars} AND lower(tp.tok) = '{t}'
),
html AS (
  SELECT doc_id,
    string_agg(
      {_esc_sql("substr(text, COALESCE(prev_e, fs) + 1, "
                "s0 - COALESCE(prev_e, fs))")}
      || '<b>' || {_esc_sql("substr(text, s0 + 1, e0 - s0)")} || '</b>'
      || CASE WHEN rdesc = 1
              THEN {_esc_sql("substr(text, e0 + 1, stop - e0)")}
              ELSE '' END,
      '' ORDER BY s0) AS snippet
  FROM hl GROUP BY doc_id
)
SELECT t.rank, CAST(t.doc_id AS BIGINT) AS doc_id,
       COALESCE(h.snippet, '') AS snippet
FROM topq t LEFT JOIN html h ON t.doc_id = h.doc_id
ORDER BY t.rank
"""
