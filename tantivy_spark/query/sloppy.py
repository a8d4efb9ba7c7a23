"""Sloppy-phrase position kernels — faithful Python mirrors of the
reference's phrase intersection algorithms
(/root/reference/src/query/phrase_query/phrase_scorer.rs:100-345).

Semantics worth naming (all ported, all pinned by the reference's own
unit-test vectors in tests/test_sloppy_vectors.py):

- Positions are SHIFTED before matching: term i with phrase offset
  ``off_i`` contributes ``pos + (max_offset - off_i)``, so an exact
  phrase occurrence puts every term at the SAME shifted position
  (phrase_scorer.rs:364-383, PostingsWithOffset).
- Slop matching uses ``abs_diff`` on shifted positions — a transposed
  pair ("b a" vs query "a b") is distance 2, so it matches at slop>=2
  but not slop=1 (phrase_query/mod.rs test_phrase_slop).
- For >2 terms the slop is a BUDGET carried across pairwise
  intersections (intersection_count_with_carrying_slop,
  phrase_scorer.rs:217-345): each surviving position remembers the
  minimum slop spent reaching it, and both sides of a match survive
  (which one is "best" depends on later terms).
- Stored slops are u8 in the reference (``new_slop as u8`` wraps);
  mirrored with ``& 0xFF`` so behavior is identical even for the
  degenerate slop>255 case.

These run per candidate document (documents already known to contain
ALL phrase terms — the Spark side joins postings per term first), over
that document's position arrays: exactly the unit of work the
reference's PhraseScorer does per doc.
"""

from __future__ import annotations


def intersection(left: list[int], right: list[int]) -> list[int]:
    """Two-pointer sorted intersection (phrase_scorer.rs:100-136)."""
    out = []
    li = ri = 0
    while li < len(left) and ri < len(right):
        lv, rv = left[li], right[ri]
        if lv < rv:
            li += 1
        elif lv > rv:
            ri += 1
        else:
            out.append(lv)
            li += 1
            ri += 1
    return out


def intersection_count(left: list[int], right: list[int]) -> int:
    return len(intersection(left, right))


def intersection_count_with_slop(left: list[int], right: list[int],
                                 slop: int, update_left: bool):
    """Greedy slop-tolerant match of two shifted position lists
    (phrase_scorer.rs:145-190).  Returns ``(count, new_left)``; when
    ``update_left`` the surviving positions are the matched RIGHT
    values (the reference stores ``right_val`` into left)."""
    out = list(left)
    li = ri = count = 0
    ll, rl = len(out), len(right)
    while li < ll and ri < rl:
        lv, rv = out[li], right[ri]
        distance = abs(lv - rv)
        if distance <= slop:
            while li + 1 < ll:
                # there could be a better (closer, still <= rv) left
                if out[li + 1] > rv:
                    break
                li += 1
            if update_left:
                out[count] = rv
            count += 1
            li += 1
            ri += 1
        elif lv < rv:
            li += 1
        else:
            ri += 1
    return count, (out[:count] if update_left else list(left))


def intersection_count_with_carrying_slop(left: list[int], slops: list[int],
                                          right: list[int], max_slop: int,
                                          update_left: bool):
    """Multi-term variant that carries the slop budget spent so far
    (phrase_scorer.rs:217-345).  ``slops`` may be shorter than ``left``
    (missing entries read as 0, mirroring ``.get(i).unwrap_or(0)``).

    Returns ``(count, new_left, new_slops)``.
    """
    if not left or not right:
        return 0, ([] if update_left else list(left)), ([] if update_left else list(slops))

    new_left: list[int] = []
    new_slops: list[int] = []

    def add_val(slop_v: int, pos_v: int) -> None:
        if update_left:
            if new_left and new_left[-1] == pos_v:
                new_slops[-1] = min(new_slops[-1], slop_v)
            else:
                new_left.append(pos_v)
                new_slops.append(slop_v)

    li = ri = count = 0
    while True:
        lv = left[li]
        slop_so_far = slops[li] if li < len(slops) else 0
        rv = right[ri]
        distance = slop_so_far + abs(lv - rv)
        if distance <= max_slop:
            if lv < rv:
                smaller, larger, sidx, spos = lv, rv, li, left
            else:
                smaller, larger, sidx, spos = rv, lv, ri, right
            new_slop = distance
            add_val(new_slop & 0xFF, smaller)
            while sidx + 1 < len(spos):
                nv = spos[sidx + 1]
                if nv > larger:
                    # next value is outside the range; current is best
                    break
                sidx += 1
                new_slop = slop_so_far + abs(nv - larger)
                add_val(new_slop & 0xFF, nv)
            add_val(new_slop & 0xFF, larger)
            count += 1
            li += 1
            ri += 1
        elif lv < rv:
            li += 1
        else:
            ri += 1

        if li >= len(left) or ri >= len(right):
            # finish rest (phrase_scorer.rs:305-333)
            if li >= len(left):
                lv_last = left[-1]
                ssf = slops[-1] if slops else 0
                for rv2 in right[ri:]:
                    ns = abs(lv_last - rv2) + ssf
                    if ns <= max_slop:
                        add_val(ns & 0xFF, rv2)
            else:
                rv_last = right[-1]
                for li2 in range(li, len(left)):
                    lv2 = left[li2]
                    ssf = slops[li2] if li2 < len(slops) else 0
                    ns = abs(lv2 - rv_last) + ssf
                    if ns <= max_slop:
                        add_val(ns & 0xFF, lv2)
            break

    if update_left:
        return count, new_left, new_slops
    return count, list(left), list(slops)


def shifted_positions(pos_lists: list[list[int]],
                      offsets: list[int] | None = None) -> list[list[int]]:
    """Apply the reference's per-term shift ``max_offset - off_i``
    (phrase_scorer.rs:364-383) so exact occurrences align."""
    n = len(pos_lists)
    offs = list(offsets) if offsets is not None else list(range(n))
    max_off = max(offs)
    return [[p + (max_off - o) for p in pl] for pl, o in zip(pos_lists, offs)]


def sloppy_phrase_count(pos_lists: list[list[int]], slop: int) -> int:
    """Phrase frequency for one document — the reference's
    compute_phrase_match + compute_phrase_count pipeline
    (phrase_scorer.rs:437-507) over ALREADY-SHIFTED sorted position
    lists (one per phrase term, in phrase order).  Returns 0 if any
    list is empty."""
    n = len(pos_lists)
    if n == 0 or any(not pl for pl in pos_lists):
        return 0
    if n == 1:
        return len(pos_lists[0])
    left = list(pos_lists[0])
    slops: list[int] = []
    for i in range(1, n - 1):
        right = pos_lists[i]
        if slop > 0:
            # n > 2 is implied: this loop only runs when n >= 3
            _, left, slops = intersection_count_with_carrying_slop(
                left, slops, right, slop, True)
        else:
            left = intersection(left, right)
        if not left:
            return 0
    right = pos_lists[n - 1]
    if slop > 0:
        if n > 2:
            c, _, _ = intersection_count_with_carrying_slop(
                left, slops, right, slop, False)
            return c
        return intersection_count_with_slop(left, right, slop, False)[0]
    return intersection_count(left, right)


def phrase_count(pos_lists: list[list[int]], slop: int = 0,
                 offsets: list[int] | None = None) -> int:
    """Convenience: shift then count."""
    return sloppy_phrase_count(shifted_positions(pos_lists, offsets), slop)


# ---------------------------------------------------------------------------
# doc-parallel numpy kernels (SIMD interpreters of the reference automata)
# ---------------------------------------------------------------------------

def _flatten_lists(lists):
    """(vals, offs, lens) int64 flattening of per-doc arrays."""
    import numpy as np
    arrs = [np.asarray(x, dtype=np.int64) for x in lists]
    lens = np.fromiter((len(a) for a in arrs), dtype=np.int64,
                       count=len(arrs))
    vals = (np.concatenate(arrs) if len(arrs) and lens.sum()
            else np.zeros(0, np.int64))
    offs = (np.concatenate(([0], np.cumsum(lens)[:-1]))
            if len(arrs) else np.zeros(0, np.int64))
    return vals, offs, lens


_NORMAL, _ADVANCE, _TAIL_R, _TAIL_L, _DONE = 0, 1, 2, 3, 4


def sloppy_carrying_batch(lvals, loff, llen, svals, rvals, roff, rlen,
                          max_slop: int, update_left: bool,
                          slen=None):
    """Doc-parallel ``intersection_count_with_carrying_slop``
    (phrase_scorer.rs:217-345): every active document's automaton state
    advances by one vectorized numpy step per iteration — the same SIMD
    interpretation as :func:`sloppy_count_two_batch`, extended with the
    carrying automaton's extra modes: ADVANCE (the inner better-value
    loop, one emission per step, li/ri frozen exactly like the
    reference's local ``sidx``) and the two finish-tails
    (phrase_scorer.rs:305-333).  Emissions are tagged with step order,
    so concatenating per-step arrays and stable-sorting by doc
    reconstructs each doc's ``add_val`` sequence; the adjacent
    equal-position collapse with min-slop is a vectorized run-reduce.

    Inputs are the flattened per-doc arrays (``svals`` aligned with
    ``lvals``, zero-padded — the reference's ``.get(i).unwrap_or(0)``).
    ``slen`` is the TRUE per-doc slops length (may be shorter than the
    left list, like the reference's separate vec): the left-exhausted
    tail reads ``slops[-1]`` of the ORIGINAL list, not the padded one.
    Defaults to ``llen`` (the shape every pipeline stage after the
    first produces; pass zeros for the first stage's empty slops).
    Returns ``(counts, (em_docs, em_pos, em_slops))`` where the second
    element is the flattened new_left/new_slops grouped by doc index
    (empty arrays when ``update_left`` is False).  Equivalence with the
    per-doc kernel is property-tested in test_sloppy_vectors.py.
    """
    import numpy as np

    n = len(llen)
    slen = llen if slen is None else slen
    li = np.zeros(n, np.int64)
    ri = np.zeros(n, np.int64)
    cnt = np.zeros(n, np.int64)
    mode = np.full(n, _NORMAL, np.int8)
    mode[(llen == 0) | (rlen == 0)] = _DONE
    aside = np.zeros(n, np.int8)     # ADVANCE side: 0=left, 1=right
    aidx = np.zeros(n, np.int64)     # ADVANCE pointer (local copy)
    alarger = np.zeros(n, np.int64)  # ADVANCE larger / TAIL fixed value
    assf = np.zeros(n, np.int64)     # ADVANCE/TAIL_R slop-so-far
    anew = np.zeros(n, np.int64)     # last computed new_slop
    tptr = np.zeros(n, np.int64)     # tail pointer
    em_doc, em_pos, em_slop = [], [], []
    llim = max(len(lvals) - 1, 0)
    rlim = max(len(rvals) - 1, 0)

    def emit(docs, poss, slops_):
        if update_left and len(docs):
            em_doc.append(docs.astype(np.int64))
            em_pos.append(poss.astype(np.int64))
            em_slop.append((slops_ & 0xFF).astype(np.int64))

    def to_tail(docs):
        """NORMAL docs whose li or ri just ran off the end -> tail/done
        (the end-of-iteration check, phrase_scorer.rs:305-333)."""
        if not len(docs):
            return
        lx = li[docs] >= llen[docs]
        rx = ri[docs] >= rlen[docs]
        fin = docs[lx | rx]
        if not len(fin):
            return
        if not update_left:
            mode[fin] = _DONE
            return
        left_out = fin[li[fin] >= llen[fin]]   # finish remaining RIGHT
        if len(left_out):
            mode[left_out] = _TAIL_R
            tptr[left_out] = ri[left_out]
            last = loff[left_out] + llen[left_out] - 1
            alarger[left_out] = lvals[last]
            # ssf = slops[-1] of the TRUE slops list (may be shorter
            # than left; empty reads 0), phrase_scorer.rs:307-311
            has_s = slen[left_out] > 0
            assf[left_out] = np.where(
                has_s,
                svals[np.minimum(loff[left_out]
                                 + np.maximum(slen[left_out] - 1, 0),
                                 max(len(svals) - 1, 0))],
                0)
        right_out = fin[(ri[fin] >= rlen[fin]) & (li[fin] < llen[fin])]
        if len(right_out):
            mode[right_out] = _TAIL_L
            tptr[right_out] = li[right_out]
            alarger[right_out] = rvals[roff[right_out]
                                       + rlen[right_out] - 1]

    act = np.flatnonzero(mode != _DONE)
    while len(act):
        m = mode[act]
        # ---------------- NORMAL: one compare ----------------
        nm = act[m == _NORMAL]
        if len(nm):
            lp = loff[nm] + li[nm]
            rp = roff[nm] + ri[nm]
            lv = lvals[lp]
            rv = rvals[rp]
            ssf = svals[lp]
            d = ssf + np.abs(lv - rv)
            within = d <= max_slop
            w = nm[within]
            if len(w):
                if update_left:
                    lvw, rvw = lv[within], rv[within]
                    emit(w, np.minimum(lvw, rvw), d[within])
                    side_l = lvw < rvw
                    mode[w] = _ADVANCE
                    aside[w] = np.where(side_l, 0, 1).astype(np.int8)
                    aidx[w] = np.where(side_l, li[w], ri[w])
                    alarger[w] = np.maximum(lvw, rvw)
                    assf[w] = ssf[within]
                    anew[w] = d[within]
                else:
                    cnt[w] += 1
                    li[w] += 1
                    ri[w] += 1
            lt = nm[~within & (lv < rv)]
            li[lt] += 1
            gt = nm[~within & (lv >= rv)]
            ri[gt] += 1
            moved = np.concatenate((lt, gt, w if not update_left
                                    else np.zeros(0, np.int64)))
            to_tail(moved.astype(np.int64))
        # ---------------- ADVANCE: one better-value probe ------------
        av = act[m == _ADVANCE]
        if len(av):
            for side, vals_, off_, lns, lim in (
                    (0, lvals, loff, llen, llim),
                    (1, rvals, roff, rlen, rlim)):
                sv = av[aside[av] == side]
                if not len(sv):
                    continue
                nxt_ok = aidx[sv] + 1 < lns[sv]
                nxt = np.where(
                    nxt_ok,
                    vals_[np.minimum(off_[sv] + aidx[sv] + 1, lim)],
                    np.int64(2) ** 62)
                go = nxt_ok & (nxt <= alarger[sv])
                adv = sv[go]
                if len(adv):
                    aidx[adv] += 1
                    val = vals_[off_[adv] + aidx[adv]]
                    anew[adv] = assf[adv] + np.abs(val - alarger[adv])
                    emit(adv, val, anew[adv])
                fin = sv[~go]
                if len(fin):
                    emit(fin, alarger[fin], anew[fin])
                    cnt[fin] += 1
                    li[fin] += 1
                    ri[fin] += 1
                    mode[fin] = _NORMAL
                    to_tail(fin)
        # ---------------- tails: one element per step ----------------
        tr = act[m == _TAIL_R]
        if len(tr):
            alive = tptr[tr] < rlen[tr]
            dead = tr[~alive]
            mode[dead] = _DONE
            live = tr[alive]
            if len(live):
                rv2 = rvals[roff[live] + tptr[live]]
                ns = assf[live] + np.abs(alarger[live] - rv2)
                ok = ns <= max_slop
                emit(live[ok], rv2[ok], ns[ok])
                tptr[live] += 1
        tl = act[m == _TAIL_L]
        if len(tl):
            alive = tptr[tl] < llen[tl]
            dead = tl[~alive]
            mode[dead] = _DONE
            live = tl[alive]
            if len(live):
                pp = loff[live] + tptr[live]
                lv2 = lvals[pp]
                ns = svals[pp] + np.abs(lv2 - alarger[live])
                ok = ns <= max_slop
                emit(live[ok], lv2[ok], ns[ok])
                tptr[live] += 1
        act = act[mode[act] != _DONE]

    if not update_left or not em_doc:
        z = np.zeros(0, np.int64)
        return cnt, (z, z, z)
    docs = np.concatenate(em_doc)
    poss = np.concatenate(em_pos)
    sl = np.concatenate(em_slop)
    order = np.argsort(docs, kind="stable")   # per-doc step order kept
    docs, poss, sl = docs[order], poss[order], sl[order]
    new_run = np.ones(len(docs), dtype=bool)
    new_run[1:] = (docs[1:] != docs[:-1]) | (poss[1:] != poss[:-1])
    starts = np.flatnonzero(new_run)
    return cnt, (docs[starts], poss[starts],
                 np.minimum.reduceat(sl, starts))


def sloppy_phrase_count_batch(pos_cols, slop: int):
    """Batched :func:`sloppy_phrase_count` for ``n_terms > 2`` and
    ``slop > 0``: ``pos_cols`` is one iterable of per-doc ALREADY-
    SHIFTED sorted position arrays per phrase term (phrase order).
    Chains :func:`sloppy_carrying_batch` stages exactly like the per-doc
    pipeline (update_left=True through the middle terms, count-only
    against the last).  Returns int64 counts per doc."""
    import numpy as np

    n_terms = len(pos_cols)
    if n_terms <= 2 or slop <= 0:
        raise ValueError("batched carrying pipeline is for n>2, slop>0")
    n_docs = len(pos_cols[0])
    lvals, loff, llen = _flatten_lists(pos_cols[0])
    svals = np.zeros_like(lvals)
    slen = np.zeros(n_docs, np.int64)   # first stage: empty slops
    for i in range(1, n_terms - 1):
        rvals, roff, rlen = _flatten_lists(pos_cols[i])
        _, (ed, ep, es) = sloppy_carrying_batch(
            lvals, loff, llen, svals, rvals, roff, rlen, slop, True,
            slen=slen)
        slen = None   # add_val keeps slops aligned with left from here
        llen = np.bincount(ed, minlength=n_docs).astype(np.int64)
        loff = np.concatenate(([0], np.cumsum(llen)[:-1])).astype(np.int64)
        lvals, svals = ep, es
    rvals, roff, rlen = _flatten_lists(pos_cols[-1])
    cnt, _ = sloppy_carrying_batch(
        lvals, loff, llen, svals, rvals, roff, rlen, slop, False)
    return cnt


# ---------------------------------------------------------------------------
# doc-parallel numpy variant of the TWO-TERM slop kernel
# ---------------------------------------------------------------------------

def sloppy_count_two_batch(left_lists, right_lists, slop: int):
    """Batched ``intersection_count_with_slop(update_left=False)``
    (phrase_scorer.rs:145-190) over MANY documents at once: instead of
    running the two-pointer loop per doc in Python, every active doc's
    (li, ri) state advances by ONE vectorized numpy step per iteration
    — a SIMD interpreter of the reference's automaton.  A step costs
    O(active docs) in C; total python-level iterations = the longest
    single doc's pointer walk, not the sum over docs, so a hot-term
    slop query over thousands of candidate docs stops paying
    per-(doc, position) interpreter overhead.

    The advance sub-loop ("there could be a better left <= rv",
    phrase_scorer.rs:160-168) is folded into the main automaton as
    extra li-advance steps: advancing toward rv only DECREASES the
    distance when left <= rv, so deferring the match until the best
    left is reached counts exactly the same matches (equivalence with
    the per-doc kernel is property-tested in test_sloppy_vectors.py).

    ``left_lists`` / ``right_lists``: iterables (one entry per doc) of
    sorted shifted position arrays.  Returns int64 counts per doc.
    """
    import numpy as np

    lvals, loff, llen = _flatten_lists(left_lists)
    rvals, roff, rlen = _flatten_lists(right_lists)
    n = len(llen)
    li = np.zeros(n, np.int64)
    ri = np.zeros(n, np.int64)
    cnt = np.zeros(n, np.int64)
    act = np.flatnonzero((llen > 0) & (rlen > 0))
    big = np.int64(2) ** 62
    lim = max(len(lvals) - 1, 0)
    while len(act):
        lptr = loff[act] + li[act]
        rptr = roff[act] + ri[act]
        lv = lvals[lptr]
        rv = rvals[rptr]
        within = np.abs(lv - rv) <= slop
        has_next = li[act] + 1 < llen[act]
        nxt = np.where(has_next, lvals[np.minimum(lptr + 1, lim)], big)
        adv = within & (nxt <= rv)          # folded best-left advance
        match = within & ~adv
        lt = ~within & (lv < rv)
        cnt[act[match]] += 1
        li[act] += (adv | match | lt)
        ri[act] += (match | (~within & ~lt))
        act = act[(li[act] < llen[act]) & (ri[act] < rlen[act])]
    return cnt
