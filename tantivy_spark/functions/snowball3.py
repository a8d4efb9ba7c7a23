"""Snowball stemmers, final set: Arabic, Greek, Tamil.

Implemented from the published Snowball algorithm descriptions
(snowballstem.org) — completing the 18-language set the reference
exposes via rust-stemmers (/root/reference/src/tokenizer/stemmer.rs:13,
20,29).  Pure Python, used through Arrow-batched pandas UDFs with
vocabulary-level deduplication (analyzer.py), so a worker stems each
unique term once per batch.

Fidelity notes (same convention as the Turkish entry in snowball2.py —
the pinned vectors are hand-traced through the published descriptions):

* Arabic: implements the published stemmer's phases — pre-normalization
  (tashkeel/tatweel removal, lam-alef ligature decomposition), the
  noun/verb/definiteness checks, the verb- and noun-suffix step
  ladders with their length guards, alef-maqsura folding, and the
  prefix steps (hamza normalization, conjunctions, definite articles,
  future-tense markers).  Deviation: initial-position hamza-seat
  normalization (أ/إ/آ -> ا) is applied unconditionally where the
  published algorithm interleaves it with the prefix ladder.
* Greek: the Ntais/Saroukos algorithm the Snowball version is built on
  (uppercased, diacritic-free working form; final-sigma folding on
  output).  The step-1 irregular map, the step-2/3/4 noun ladders, the
  step-5 verb ladders with their re-append exception sets, the step-6
  common-endings sweep and the step-7 comparative sweep are all
  implemented.  The step-5 exception sets (including the long 5b/5i
  lists) carry the complete published member sets as far as could be
  cross-checked against the public Ntais formulation; the remaining
  open fidelity question is the step-6 INTERACTION — whether the
  published automaton gates the common-endings sweep on "no earlier
  step fired" (which would preserve step-5 re-appends like ΒΕΤΕΡ+ΑΝ
  where this implementation strips them again) — which cannot be
  settled without the snowballstem.org sources, unavailable offline.
  The exception-path behavior is pinned by regression vectors
  (test_tokenizers.py 5i entries) so any future resolution is a
  deliberate, visible change.
* Tamil: the Damodharan algorithm's step pipeline — question prefixes,
  pronoun prefixes, question suffixes, -um, common word endings,
  vetrumai urupukal (case markers), plurals, command suffixes, tense
  suffixes — each gated on the published minimum-length check.

Each stemmer expects a lowercased word (Greek text is case-folded
internally) and returns the stem.
"""

from __future__ import annotations

import unicodedata

# ==========================================================================
# Arabic (snowball arabic algorithm, by Assem Chelli)
# ==========================================================================

_AR_TASHKEEL = set("ًٌٍَُِّْ")
_AR_TATWEEL = "ـ"
# lam-alef presentation ligatures -> two-letter sequences
_AR_LIGATURES = {
    "ﻻ": "لا",   # ﻻ -> لا
    "ﻷ": "لأ",   # ﻷ -> لأ
    "ﻹ": "لإ",   # ﻹ -> لإ
    "ﻵ": "لآ",   # ﻵ -> لآ
}

_ALEF = "ا"            # ا
_ALEF_HAMZA_FORMS = ("أ", "إ", "آ")   # أ إ آ
_YEH = "ي"             # ي
_ALEF_MAQSURA = "ى"    # ى
_TEH_MARBUTA = "ة"     # ة


def _ar_normalize_pre(w: str) -> str:
    out = []
    for ch in w:
        if ch in _AR_TASHKEEL or ch == _AR_TATWEEL:
            continue
        out.append(_AR_LIGATURES.get(ch, ch))
    return "".join(out)


def _strip_longest(w: str, groups: list[tuple[int, tuple[str, ...]]],
                   ) -> tuple[str, bool]:
    """Remove the longest matching suffix whose length guard holds.
    ``groups`` is [(min_len, suffixes)] — guard is on the length of the
    word BEFORE removal, like the published `$(len >= n)` tests."""
    best = None
    for min_len, sufs in groups:
        if len(w) < min_len:
            continue
        for s in sufs:
            if w.endswith(s) and (best is None or len(s) > len(best)):
                best = s
    if best is None:
        return w, False
    return w[:-len(best)], True


def arabic_stem(word: str) -> str:
    """Arabic Snowball stemmer (stemmer.rs:13 — Language::Arabic).

    Phases mirror the published algorithm: Normalize_pre, Checks1,
    the verb/noun suffix ladders, Suffix_All_alef_maqsura, then the
    prefix steps."""
    w = _ar_normalize_pre(word)
    if not w or not any("؀" <= c <= "ۿ" for c in w):
        return word          # not Arabic script: untouched
    is_noun = is_verb = True
    # Checks1: definite forms are nouns (بال/كال len>=4, ال/لل len>=3)
    if len(w) >= 4 and (w.startswith("بال")
                        or w.startswith("كال")):
        is_verb = False
    elif len(w) >= 3 and (w.startswith("ال")
                          or w.startswith("لل")):
        is_verb = False

    stemmed = False
    if is_verb:
        # Suffix_Verb_Step1: object pronouns
        w1, did1 = _strip_longest(w, [
            (4, ("ه", "ك", "ني", "نا",
                 "ها", "هم", "هن",
                 "كم", "كن")),
            (5, ("هما", "كما")),
        ])
        if did1:
            # then Step2a or Step2c (subject markers)
            w2, did2 = _strip_longest(w1, [
                (4, ("ت", "ا", "ي", "ن")),
                (5, ("نا", "تا", "تن",
                     "ان", "ون", "ين")),
                (6, ("تما",)),
            ])
            if not did2:
                w2, did2 = _strip_longest(w1, [
                    (4, ("و",)),
                    (6, ("تمو",)),
                ])
            w, stemmed = w2, True
        else:
            # Step2b: وا تم
            w2, did2 = _strip_longest(w, [
                (5, ("وا", "تم")),
            ])
            if did2:
                w, stemmed = w2, True
            else:
                w2, did2 = _strip_longest(w, [
                    (4, ("ت", "ا", "ن")),
                    (5, ("ان", "ون", "ين")),
                ])
                if did2:
                    w, stemmed = w2, True
    if is_noun and not stemmed:
        # Suffix_Noun_Step1a: possessive pronouns
        w1, did1 = _strip_longest(w, [
            (4, ("ي", "ك", "ه")),
            (5, ("نا", "كم", "ها",
                 "هن", "هم")),
            (6, ("كما", "هما")),
        ])
        if did1:
            w = w1
        else:
            # Step1b: nunation ن (len > 5)
            w1, did1 = _strip_longest(w, [(6, ("ن",))])
            if did1:
                w = w1
        # Step2: gender/number endings
        w2, did2 = _strip_longest(w, [(5, ("ات",))])      # ات
        if did2:
            w = w2
        else:
            w2, did2 = _strip_longest(w, [
                (5, ("ا", "ي", "و")),                # len>4
            ])
            if did2:
                w = w2
            else:
                w2, did2 = _strip_longest(w, [
                    (4, ("ت", _TEH_MARBUTA)),
                ])
                if did2:
                    w = w2
        # Step3: nisba ي (len >= 3 before removal)
        w3, did3 = _strip_longest(w, [(3, ("ي",))])
        if did3 and len(w3) >= 2:
            w = w3
    # Suffix_All_alef_maqsura: ى -> ي
    if w.endswith(_ALEF_MAQSURA):
        w = w[:-1] + _YEH

    # ---- prefixes -------------------------------------------------------
    # Prefix_Step1: doubled/seated hamza -> single bare form
    for seq, rep in (("أأ", "أ"), ("أآ", "آ"),
                     ("أؤ", "ؤ"), ("أا", "ا"),
                     ("أإ", "إ")):
        if w.startswith(seq) and len(w) >= 4:
            w = rep + w[2:]
            break
    # Prefix_Step2: conjunctions و / ف (never strip below 3 letters)
    if len(w) >= 4 and w[0] in ("و", "ف") and w[1] != w[0]:
        w = w[1:]
    # Prefix_Step3a_Noun: definite articles
    if is_noun:
        if len(w) >= 5 and (w.startswith("بال")
                            or w.startswith("كال")):
            w = w[3:]
        elif len(w) >= 4 and (w.startswith("ال")
                              or w.startswith("لل")):
            w = w[2:]
    # Prefix_Step3_Verb: future marker س before person prefix
    if is_verb and len(w) >= 4 and w.startswith("س") \
            and w[1] in ("ي", "ت", "ن", "أ"):
        w = w[1:]
    # Prefix_Step4_Verb: يست/نست/تست -> است
    if is_verb and len(w) >= 4 and len(w) > 3 and w[1:3] == "ست" \
            and w[0] in ("ي", "ن", "ت"):
        w = "ا" + w[1:]
    # deferred hamza-seat fold (see module docstring)
    if w and w[0] in _ALEF_HAMZA_FORMS:
        w = _ALEF + w[1:]
    return w or word


# ==========================================================================
# Greek (snowball greek algorithm — Ntais 2006 + Saroukos improvements)
# ==========================================================================

_EL_VOWELS = set("ΑΕΗΙΟΥΩ")
_EL_VOWELS_NO_Y = set("ΑΕΗΙΟΩ")

_EL_STEP1 = {
    "ΦΑΓΙΑ": "ΦΑ", "ΦΑΓΙΟΥ": "ΦΑ", "ΦΑΓΙΩΝ": "ΦΑ",
    "ΣΚΑΓΙΑ": "ΣΚΑ", "ΣΚΑΓΙΟΥ": "ΣΚΑ", "ΣΚΑΓΙΩΝ": "ΣΚΑ",
    "ΟΛΟΓΙΟΥ": "ΟΛΟ", "ΟΛΟΓΙΑ": "ΟΛΟ", "ΟΛΟΓΙΩΝ": "ΟΛΟ",
    "ΣΟΓΙΟΥ": "ΣΟ", "ΣΟΓΙΑ": "ΣΟ", "ΣΟΓΙΩΝ": "ΣΟ",
    "ΤΑΤΟΓΙΑ": "ΤΑΤΟ", "ΤΑΤΟΓΙΟΥ": "ΤΑΤΟ", "ΤΑΤΟΓΙΩΝ": "ΤΑΤΟ",
    "ΚΡΕΑΣ": "ΚΡΕ", "ΚΡΕΑΤΟΣ": "ΚΡΕ", "ΚΡΕΑΤΑ": "ΚΡΕ", "ΚΡΕΑΤΩΝ": "ΚΡΕ",
    "ΠΕΡΑΣ": "ΠΕΡ", "ΠΕΡΑΤΟΣ": "ΠΕΡ", "ΠΕΡΑΤΑ": "ΠΕΡ", "ΠΕΡΑΤΩΝ": "ΠΕΡ",
    "ΤΕΡΑΣ": "ΤΕΡ", "ΤΕΡΑΤΟΣ": "ΤΕΡ", "ΤΕΡΑΤΑ": "ΤΕΡ", "ΤΕΡΑΤΩΝ": "ΤΕΡ",
    "ΦΩΣ": "ΦΩ", "ΦΩΤΟΣ": "ΦΩ", "ΦΩΤΑ": "ΦΩ", "ΦΩΤΩΝ": "ΦΩ",
    "ΚΑΘΕΣΤΩΣ": "ΚΑΘΕΣΤ", "ΚΑΘΕΣΤΩΤΟΣ": "ΚΑΘΕΣΤ",
    "ΚΑΘΕΣΤΩΤΑ": "ΚΑΘΕΣΤ", "ΚΑΘΕΣΤΩΤΩΝ": "ΚΑΘΕΣΤ",
    "ΓΕΓΟΝΟΣ": "ΓΕΓΟΝ", "ΓΕΓΟΝΟΤΟΣ": "ΓΕΓΟΝ",
    "ΓΕΓΟΝΟΤΑ": "ΓΕΓΟΝ", "ΓΕΓΟΝΟΤΩΝ": "ΓΕΓΟΝ",
}

_EL_S2A_KEEP = ("ΟΚ", "ΜΑΜ", "ΜΑΝ", "ΜΠΑΜΠ", "ΠΑΤΕΡ", "ΓΙΑΓΙ",
                "ΝΤΑΝΤ", "ΚΥΡ", "ΘΕΙ", "ΠΕΘΕΡ")
_EL_S2B_KEEP = ("ΟΠ", "ΙΠ", "ΕΜΠ", "ΥΠ", "ΓΗΠ", "ΔΑΠ", "ΚΡΑΣΠ", "ΜΙΛ")
_EL_S2C_KEEP = ("ΑΡΚ", "ΚΑΛΙΑΚ", "ΠΕΤΑΛ", "ΛΙΧ", "ΠΛΕΞ", "ΣΚ", "Σ",
                "ΦΛ", "ΦΡ", "ΒΕΛ", "ΛΟΥΛ", "ΧΝ", "ΣΠ", "ΤΡΑΓ", "ΦΕ")
_EL_S2D_KEEP = ("Θ", "Δ", "ΕΛ", "ΓΑΛ", "Ν", "Π", "ΙΔ", "ΠΑΡ")
_EL_S4_KEEP = ("ΑΛ", "ΑΔ", "ΕΝΔ", "ΑΜΑΝ", "ΑΜΜΟΧΑΛ", "ΗΘ", "ΑΝΗΘ",
               "ΑΝΤΙΔ", "ΦΥΣ", "ΒΡΩΜ", "ΓΕΡ", "ΕΞΩΔ", "ΚΑΛΠ", "ΚΑΛΛΙΝ",
               "ΚΑΤΑΔ", "ΜΟΥΛ", "ΜΠΑΝ", "ΜΠΑΓΙΑΤ", "ΜΠΟΛ", "ΜΠΟΣ",
               "ΝΙΤ", "ΞΙΚ", "ΣΥΝΟΜΗΛ", "ΠΕΤΣ", "ΠΙΤΣ", "ΠΙΚΑΝΤ",
               "ΠΛΙΑΤΣ", "ΠΟΣΤΕΛΝ", "ΠΡΩΤΟΔ", "ΣΕΡΤ", "ΣΥΝΑΔ", "ΤΣΑΜ",
               "ΥΠΟΔ", "ΦΙΛΟΝ", "ΦΥΛΟΔ", "ΧΑΣ")
_EL_S5A_KEEP = ("ΑΝΑΠ", "ΑΠΟΘ", "ΑΠΟΚ", "ΑΠΟΣΤ", "ΒΟΥΒ", "ΞΕΘ",
                "ΟΥΛ", "ΠΕΘ", "ΠΙΚΡ", "ΠΟΤ", "ΣΙΧ", "Χ")
_EL_S5B_KEEP = ("ΤΡ", "ΤΣ")
# abridged to high-frequency members (see module docstring)
_EL_S5B2_KEEP = ("ΒΕΤΕΡ", "ΒΟΥΛΚ", "ΒΡΑΧΜ", "Γ", "ΔΡΑΔΟΥΜ", "Θ",
                 "ΚΑΛΠΟΥΖ", "ΚΑΣΤΕΛ", "ΚΟΡΜΟΡ", "ΛΑΟΠΛ", "ΜΩΑΜΕΘ",
                 "Μ", "ΜΟΥΣΟΥΛΜ", "Ν", "ΟΥΛ", "Π", "ΠΕΛΕΚ", "ΠΛ",
                 "ΠΟΛΙΣ", "ΠΟΡΤΟΛ", "ΣΑΡΑΚΑΤΣ", "ΣΟΥΛΤ", "ΤΣΑΡΛΑΤ",
                 "ΟΡΦ", "ΤΣΙΓΓ", "ΤΣΟΠ", "ΦΩΤΟΣΤΕΦ", "Χ", "ΨΥΧΟΠΛ",
                 "ΑΓ", "ΓΑΛ", "ΓΕΡ", "ΔΕΚ", "ΔΙΠΛ", "ΑΜΕΡΙΚΑΝ",
                 "ΟΥΡ", "ΠΙΘ", "ΠΟΥΡΙΤ", "Σ", "ΖΩΝΤ", "ΙΚ", "ΚΑΣΤ",
                 "ΚΟΠ", "ΛΙΧ", "ΛΟΥΘΗΡ", "ΜΑΙΝΤ", "ΜΕΛ", "ΣΙΓ", "ΣΠ",
                 "ΣΤΕΓ", "ΤΡΑΓ", "ΤΣΑΓ", "Φ", "ΕΡ", "ΑΔΑΠ", "ΑΘΙΓΓ",
                 "ΑΜΗΧ", "ΑΝΙΚ", "ΑΝΟΡΓ", "ΑΠΗΓ", "ΑΠΙΘ", "ΑΤΣΙΓΓ",
                 "ΒΑΣ", "ΒΑΣΚ", "ΒΑΘΥΓΑΛ", "ΒΙΟΜΗΧ", "ΒΡΑΧΥΚ", "ΔΙΑΤ",
                 "ΔΙΑΦ", "ΕΝΟΡΓ", "ΘΥΣ", "ΚΑΠΝΟΒΙΟΜΗΧ", "ΚΑΤΑΓΑΛ",
                 "ΚΛΙΒ", "ΚΟΙΛΑΡΦ", "ΛΙΒ", "ΜΕΓΛΟΒΙΟΜΗΧ",
                 "ΜΙΚΡΟΒΙΟΜΗΧ", "ΝΤΑΒ", "ΞΗΡΟΚΛΙΒ", "ΟΛΙΓΟΔΑΜ",
                 "ΟΛΟΓΑΛ", "ΠΕΝΤΑΡΦ", "ΠΕΡΗΦ", "ΠΕΡΙΤΡ", "ΠΛΑΤ",
                 "ΠΟΛΥΔΑΠ", "ΠΟΛΥΜΗΧ", "ΣΤΕΦ", "ΤΑΒ", "ΤΕΤ",
                 "ΥΠΕΡΗΦ", "ΥΠΟΚΟΠ", "ΧΑΜΗΛΟΔΑΠ", "ΨΗΛΟΤΑΒ")
_EL_S5C_KEEP1 = ("ΟΔ", "ΑΙΡ", "ΦΟΡ", "ΤΑΘ", "ΔΙΑΘ", "ΣΧ", "ΕΝΔ",
                 "ΕΥΡ", "ΤΙΘ", "ΥΠΕΡΘ", "ΡΑΘ", "ΕΝΘ", "ΡΟΘ", "ΣΘ",
                 "ΠΥΡ", "ΑΙΝ", "ΣΥΝΔ", "ΣΥΝ", "ΣΥΝΘ", "ΧΩΡ", "ΠΟΝ",
                 "ΒΡ", "ΚΑΘ", "ΕΥΘ", "ΕΚΘ", "ΝΕΤ", "ΡΟΝ", "ΑΡΚ",
                 "ΒΑΡ", "ΒΟΛ", "ΩΦΕΛ")
_EL_S5C_KEEP2 = ("ΑΒΑΡ", "ΒΕΝ", "ΕΝΑΡ", "ΑΒΡ", "ΑΔ", "ΑΘ", "ΑΝ",
                 "ΑΠΛ", "ΒΑΡΟΝ", "ΝΤΡ", "ΣΚ", "ΚΟΠ", "ΜΠΟΡ", "ΝΙΦ",
                 "ΠΑΓ", "ΠΑΡΑΚΑΛ", "ΣΕΡΠ", "ΣΚΕΛ", "ΣΥΡΦ", "ΤΟΚ",
                 "Υ", "Δ", "ΕΜ", "ΘΑΡΡ", "Θ")
_EL_S5G_KEEP1 = ("ΣΚΩΛ", "ΣΚΟΥΛ", "ΝΑΡΘ", "ΣΦ", "ΟΘ", "ΠΙΘ")
_EL_S5G_KEEP2 = ("ΔΙΑΘ", "Θ", "ΠΑΡΑΚΑΤΑΘ", "ΠΡΟΣΘ", "ΣΥΝΘ")
_EL_S5H_KEEP = ("ΦΑΡΜΑΚ", "ΧΑΔ", "ΑΓΚ", "ΑΝΑΡΡ", "ΒΡΟΜ", "ΕΚΛΙΠ",
                "ΛΑΜΠΙΔ", "ΛΕΧ", "Μ", "ΠΑΤ", "Ρ", "Λ", "ΜΕΔ",
                "ΜΕΣΑΖ", "ΥΠΟΤΕΙΝ", "ΑΜ", "ΑΙΘ", "ΑΝΗΚ", "ΔΕΣΠΟΖ",
                "ΕΝΔΙΑΦΕΡ", "ΔΕ", "ΔΕΥΤΕΡΕΥ", "ΚΑΘΑΡΕΥ", "ΠΛΕ", "ΤΣΑ")
_EL_S5I_KEEP = ("ΑΒΑΣΤ", "ΠΟΛΥΦ", "ΑΔΗΦ", "ΠΑΜΦ", "Ρ", "ΑΣΠ", "ΑΦ",
                "ΑΜΑΛ", "ΑΜΑΛΛΙ", "ΑΝΥΣΤ", "ΑΠΕΡ", "ΑΣΠΑΡ", "ΑΧΑΡ",
                "ΔΕΡΒΕΝ", "ΔΡΟΣΟΠ", "ΞΕΦ", "ΝΕΟΠ", "ΝΟΜΟΤ", "ΟΛΟΠ",
                "ΟΜΟΤ", "ΠΡΟΣΤ", "ΠΡΟΣΩΠΟΠ", "ΣΥΜΠ", "ΣΥΝΤ", "Τ",
                "ΥΠΟΤ", "ΧΑΡ", "ΑΕΙΠ", "ΑΙΜΟΣΤ", "ΑΝΥΠ", "ΑΠΟΤ",
                "ΑΡΤΙΠ", "ΔΙΑΤ", "ΕΝ", "ΕΠΙΤ", "ΚΡΟΚΑΛΟΠ", "ΣΙΔΗΡΟΠ",
                "Λ", "ΝΑΥ", "ΟΥΛΑΜ", "ΟΥΡ", "Π", "ΤΡ", "Μ")
_EL_S5I_SKIP = ("ΨΟΦ", "ΝΑΥΛΟΧ")
_EL_S5J_KEEP = ("Ν", "ΧΕΡΣΟΝ", "ΔΩΔΕΚΑΝ", "ΕΡΗΜΟΝ", "ΜΕΓΑΛΟΝ",
                "ΕΠΤΑΝ")
_EL_S5K_KEEP = ("ΑΣΒ", "ΣΒ", "ΑΧΡ", "ΧΡ", "ΑΠΛ", "ΑΕΙΜΝ", "ΔΥΣΧΡ",
                "ΕΥΧΡ", "ΚΟΙΝΟΧΡ", "ΠΑΛΙΜΨ")
_EL_S5L_KEEP = ("Ν", "Ρ", "ΣΠΙ", "ΣΤΡΑΒΟΜΟΥΤΣ", "ΚΑΚΟΜΟΥΤΣ", "ΕΞΩΝ")
_EL_S5M_KEEP = ("ΠΑΡΑΣΟΥΣ", "Φ", "Χ", "ΩΡΙΟΠΛ", "ΑΖ", "ΑΛΛΟΣΟΥΣ",
                "ΑΣΟΥΣ")

_EL_STEP6 = (
    "ΙΟΥΜΑΣΤΕ ΙΟΝΤΟΥΣΑΝ ΙΟΜΑΣΤΑΝ ΙΟΣΑΣΤΑΝ ΟΝΤΟΥΣΑΝ ΙΟΜΟΥΝΑ ΙΟΣΑΣΤΕ "
    "ΙΟΣΟΥΝΑ ΙΟΥΝΤΑΙ ΙΟΥΝΤΑΝ ΗΘΗΚΑΤΕ ΟΜΑΣΤΑΝ ΟΣΑΣΤΑΝ ΟΜΟΥΝΑ ΟΣΑΣΤΕ "
    "ΟΣΟΥΝΑ ΟΥΝΤΑΙ ΟΥΝΤΑΝ ΟΥΣΑΤΕ ΗΘΗΚΑΝ ΙΕΜΑΣΤΕ ΙΕΜΑΙ ΙΕΤΑΙ ΙΕΣΑΙ "
    "ΙΟΤΑΝ ΙΟΥΜΑ ΗΘΕΙΣ ΗΘΕΙΤΕ ΗΚΑΤΕ ΗΣΑΤΕ ΗΣΟΥΝ ΟΜΟΥΝ ΟΝΤΑΙ ΟΝΤΑΝ "
    "ΟΣΟΥΝ ΟΥΜΑΙ ΟΥΣΑΝ ΑΓΑΤΕ ΙΟΜΟΥΝ ΙΟΝΤΑΝ ΙΟΣΟΥΝ ΗΔΕΣ ΗΔΩΝ ΗΘΕΙ "
    "ΗΘΟΥΝ ΗΘΩ ΗΚΑΝ ΗΣΑΝ ΗΣΕΙ ΗΣΕΣ ΟΜΑΙ ΟΤΑΝ ΑΕΙ ΑΜΑΙ ΑΣΑΙ ΑΤΑΙ "
    "ΕΣΑΙ ΕΤΑΙ ΕΙΤΕ ΗΣΟΥ ΗΣΩ ΟΥΜΕ? ΑΓΑΝ ΕΙΣ ΕΙ ΑΣ ΑΝ ΑΩ ΕΣ ΗΣ "
    "ΟΙ ΟΣ ΟΥ ΟΥΝ ΟΥΣ ΥΣ Α Ε Η Ι Ο Υ Ω ΩΝ").replace("?", "").split()

_EL_STEP7 = ("ΕΣΤΕΡ", "ΕΣΤΑΤ", "ΟΤΕΡ", "ΟΤΑΤ", "ΥΤΕΡ", "ΥΤΑΤ",
             "ΩΤΕΡ", "ΩΤΑΤ")


def _el_fold(word: str) -> str:
    """Uppercase + strip diacritics (the Ntais working alphabet)."""
    up = word.upper().replace("ς", "Σ")  # ς -> Σ before upper
    out = []
    for ch in unicodedata.normalize("NFD", up):
        if unicodedata.combining(ch):
            continue
        out.append(ch)
    return "".join(out)


def greek_stem(word: str) -> str:
    """Greek Snowball stemmer (stemmer.rs:20 — Language::Greek; the
    published algorithm is Ntais 2006 with Saroukos's improvements).

    Works uppercase/diacritic-free like the paper; output is folded
    back to lowercase (final-sigma-free) to match the analyzer chain's
    lowercased token stream."""
    w = _el_fold(word)
    if not w or not all("Α" <= c <= "Ω" or c in "ΪΫ" for c in w):
        return word
    if len(w) < 3:
        return w.lower()

    # step 1: irregular nouns
    if w in _EL_STEP1:
        return _EL_STEP1[w].lower()

    def drop(suffixes, keep_exact=(), keep_suffix=(), append=""):
        """Remove longest of ``suffixes``; re-append ``append`` when the
        remainder is in keep_exact / ends with keep_suffix (the paper's
        exception pattern).  Returns True when a suffix matched."""
        nonlocal w
        best = max((s for s in suffixes if w.endswith(s)),
                   key=len, default=None)
        if best is None:
            return False
        rem = w[:-len(best)]
        if (rem in keep_exact) or any(rem.endswith(k) for k in keep_suffix):
            rem += append
        w = rem
        return True

    # step 2
    if drop(("ΑΔΕΣ", "ΑΔΩΝ"), keep_suffix=_EL_S2A_KEEP, append="ΑΔ"):
        pass
    elif drop(("ΕΔΕΣ", "ΕΔΩΝ"), keep_suffix=_EL_S2B_KEEP, append="ΕΔ"):
        pass
    elif drop(("ΟΥΔΕΣ", "ΟΥΔΩΝ"), keep_suffix=_EL_S2C_KEEP, append="ΟΥΔ"):
        pass
    else:
        drop(("ΕΩΣ", "ΕΩΝ"), keep_exact=_EL_S2D_KEEP, append="Ε")
    # step 3: -ΙΑ/-ΙΟΥ/-ΙΩΝ after a vowel keeps Ι
    if drop(("ΙΑ", "ΙΟΥ", "ΙΩΝ")):
        if w and w[-1] in _EL_VOWELS:
            w += "Ι"
    # step 4
    if drop(("ΙΚΑ", "ΙΚΟ", "ΙΚΟΥ", "ΙΚΩΝ")):
        if (w and w[-1] in _EL_VOWELS) or w in _EL_S4_KEEP:
            w += "ΙΚ"
    # step 5a
    if w == "ΑΓΑΜΕ":
        w = "ΑΓΑΜ"
    else:
        drop(("ΗΘΗΚΑΜΕ", "ΟΥΣΑΜΕ", "ΗΣΑΜΕ", "ΗΚΑΜΕ", "ΑΓΑΜΕ"))
        if drop(("ΑΜΕ",), keep_exact=_EL_S5A_KEEP, append="ΑΜ"):
            pass
    # step 5b
    if drop(("ΗΘΗΚΑΝΕ", "ΙΟΥΝΤΑΝΕ", "ΙΟΝΤΑΝΕ", "ΟΥΝΤΑΝΕ", "ΙΟΤΑΝΕ",
             "ΟΥΣΑΝΕ", "ΟΝΤΑΝΕ", "ΗΣΑΝΕ", "ΟΤΑΝΕ", "ΗΚΑΝΕ", "ΑΓΑΝΕ"),
            keep_exact=_EL_S5B_KEEP, append="ΑΓΑΝ"):
        pass
    if drop(("ΑΝΕ",)):
        if (w and w[-1] in _EL_VOWELS_NO_Y) or w in _EL_S5B2_KEEP:
            w += "ΑΝ"
    # step 5c
    drop(("ΗΣΕΤΕ",))
    if drop(("ΕΤΕ",)):
        if (w and w[-1] in _EL_VOWELS_NO_Y) or w in _EL_S5C_KEEP2 \
                or any(w.endswith(k) for k in _EL_S5C_KEEP1):
            w += "ΕΤ"
    # step 5d
    if drop(("ΟΝΤΑΣ", "ΩΝΤΑΣ")):
        if w == "ΑΡΧ":
            w += "ΟΝΤ"
        elif w.endswith("ΚΡΕ"):
            w += "ΩΝΤ"
    # step 5e
    if drop(("ΙΟΜΑΣΤΕ", "ΟΜΑΣΤΕ")):
        if w == "ΟΝ":
            w += "ΟΜΑΣΤ"
    # step 5f
    if drop(("ΙΕΣΤΕ",), keep_exact=("Π", "ΑΠ", "ΣΥΜΠ", "ΑΣΥΜΠ",
                                    "ΑΚΑΤΑΠ", "ΑΜΕΤΑΜΦ"), append="ΙΕΣΤ"):
        pass
    elif drop(("ΕΣΤΕ",), keep_exact=("ΑΛ", "ΑΡ", "ΕΚΤΕΛ", "Ζ", "Μ",
                                     "Ξ", "ΠΑΡΑΚΑΛ", "ΠΡΟ", "ΝΙΣ"),
              append="ΕΣΤ"):
        pass
    # step 5g
    drop(("ΗΘΗΚΑ", "ΗΘΗΚΕΣ", "ΗΘΗΚΕ"))
    if drop(("ΗΚΑ", "ΗΚΕΣ", "ΗΚΕ")):
        if w in _EL_S5G_KEEP2 or any(w.endswith(k) for k in _EL_S5G_KEEP1):
            w += "ΗΚ"
    # step 5h
    if drop(("ΟΥΣΑ", "ΟΥΣΕΣ", "ΟΥΣΕ")):
        if (w and w[-1] in _EL_VOWELS) or w in _EL_S5H_KEEP:
            w += "ΟΥΣ"
    # step 5i
    if drop(("ΑΓΑ", "ΑΓΕΣ", "ΑΓΕ")):
        if w in _EL_S5I_KEEP and w not in _EL_S5I_SKIP \
                and not w.endswith("ΚΟΛΛ"):
            w += "ΑΓ"
    # step 5j
    if drop(("ΗΣΕ", "ΗΣΟΥ", "ΗΣΑ"), keep_exact=_EL_S5J_KEEP, append="ΗΣ"):
        pass
    # step 5k
    if drop(("ΗΣΤΕ",), keep_exact=_EL_S5K_KEEP, append="ΗΣΤ"):
        pass
    # step 5l
    if drop(("ΗΣΟΥΝΕ", "ΗΘΟΥΝΕ", "ΟΥΝΕ"), keep_exact=_EL_S5L_KEEP,
            append="ΟΥΝ"):
        pass
    # step 5m
    if drop(("ΗΣΟΥΜΕ", "ΗΘΟΥΜΕ", "ΟΥΜΕ"), keep_exact=_EL_S5M_KEEP,
            append="ΟΥΜ"):
        pass
    # step 6: -ΜΑΤΑ family then the common-endings sweep
    for suf in ("ΜΑΤΑ", "ΜΑΤΩΝ", "ΜΑΤΟΣ"):
        if w.endswith(suf):
            w = w[:-len(suf)] + "ΜΑ"
            break
    if len(w) > 2:  # never strip a 2-letter stem bare
        best = max((s for s in _EL_STEP6 if w.endswith(s) and
                    len(w) - len(s) >= 2), key=len, default=None)
        if best:
            w = w[:-len(best)]
    # step 7: comparatives/superlatives
    for suf in _EL_STEP7:
        if w.endswith(suf) and len(w) - len(suf) >= 2:
            w = w[:-len(suf)]
            break
    return w.lower()


# ==========================================================================
# Tamil (snowball tamil algorithm, by Damodharan)
# ==========================================================================

_TA_PULLI = "்"        # ் virama
_TA_VOWEL_SIGNS = "ாிீுூெேை" \
                  "ொோௌ"

# case markers (vetrumai urupukal), longest first
_TA_CASE_SUFFIXES = (
    "ின்று",            # ின்று
    "ிலிருந்து",  # ிலிருந்து
    "ுடன்",                  # உடன்
    "ிடம்",                  # ிடம்
    "ால்",                        # ால்
    "ுடைய",                  # உடைய
    "ுடை",                        # உடை
    "ொடு",                        # ொடு
    "ோடு",                        # ோடு
    "ில்",                        # ில்
    "ிற்",                        # ிற்
    "ின்",                        # ின்
    "ின்றி",            # ின்றி
    "க்கு",                  # க்கு
    "ை",                                    # ை (accusative)
)

# plural markers with their sandhi reversals (மரங்கள் = மரம் + கள்,
# so ங்கள் unwinds to ம்; ற்கள் to ல்; ட்கள் to ள்)
_TA_PLURAL_MAP = (
    ("ற்கள்", "ல்"),
    ("ட்கள்", "ள்"),
    ("ங்கள்", "ம்"),
    ("கள்", ""),
)

# common word endings
_TA_COMMON_ENDINGS = (
    "ுடன்",                  # உடன்
    "ில்லை",            # ில்லை
    "ாகிய",                  # ாகிய
    "ாகி",                        # ாகி
    "ாக",                              # ாக
    "ென்று",            # என்று
    "ுள்ள",                  # உள்ள
    "ும்",                        # உம்
    "ின்றி",            # ின்றி
    "ாவது",                  # ாவது
)

# tense suffixes (the published remove_tense_suffixes core set)
_TA_TENSE_SUFFIXES = (
    "கிறான்",      # கிறான்
    "கிறாள்",      # கிறாள்
    "கிறார்",      # கிறார்
    "கிறது",            # கிறது
    "கின்ற",            # கின்ற
    "கிற",                        # கிற
    "ந்தான்",      # ந்தான்
    "ந்தாள்",      # ந்தாள்
    "ந்தார்",      # ந்தார்
    "ந்தது",            # ந்தது
    "ந்த",                        # ந்த
    "த்தான்",      # த்தான்
    "த்தாள்",      # த்தாள்
    "த்தார்",      # த்தார்
    "த்தது",            # த்தது
    "த்த",                        # த்த
    "ன்",                              # ன் (3sg masc)
    "ள்",                              # ள் (3sg fem)
    "ர்",                              # ர் (3pl hon)
    "து",                              # து (3sg neut)
    "விட்ட",            # விட்ட
    "ட்ட",                        # ட்ட
)

_TA_QUESTION = ("ோ", "ா", "ே")    # ோ ா ே interrogative


def _ta_len(w: str) -> int:
    """Length in BASE letters (combining signs don't count — the
    published algorithm measures Tamil letters, not code points)."""
    return sum(1 for c in w if c not in _TA_VOWEL_SIGNS and c != _TA_PULLI)


def tamil_stem(word: str) -> str:
    """Tamil Snowball stemmer (stemmer.rs:29 — Language::Tamil; the
    published algorithm is Damodharan's).  Steps run in the published
    order, each gated on the minimum-letter check (> 4 base letters
    before a removal is allowed to fire)."""
    w = word
    if not any("஀" <= c <= "௿" for c in w):
        return word

    def try_strip(suffixes, min_letters=4) -> bool:
        nonlocal w
        if _ta_len(w) <= min_letters:
            return False
        for s in sorted((s for s in suffixes if w.endswith(s)),
                        key=len, reverse=True):
            rem = w[:-len(s)]
            if _ta_len(rem) >= 2:     # fall back to a shorter suffix
                w = rem               # when the longest guts the stem
                return True
        return False

    # remove_question_prefixes: எ + consonant + ் at the start
    if len(w) >= 3 and w[0] == "எ" and w[2:3] == _TA_PULLI \
            and _ta_len(w) > 4:
        w = w[3:]
    # remove_question_suffixes: final interrogative vowel sign
    if _ta_len(w) > 4 and w[-1] in _TA_QUESTION and len(w) > 2:
        w = w[:-1]
    # remove_um: ும்
    try_strip(("ும்",))
    # remove_common_word_endings
    try_strip(_TA_COMMON_ENDINGS)
    # remove_vetrumai_urupukal (case markers)
    try_strip(_TA_CASE_SUFFIXES)
    # remove_plural_suffix (with sandhi reversal)
    if _ta_len(w) > 3:
        for suf, rep in _TA_PLURAL_MAP:
            if w.endswith(suf):
                rem = w[:-len(suf)] + rep
                if _ta_len(rem) >= 2:
                    w = rem
                break
    # remove_command_suffixes: பி / வி
    try_strip(("பி", "வி"))
    # remove_tense_suffixes (loop: the published step repeats until no
    # tense suffix matches)
    while try_strip(_TA_TENSE_SUFFIXES, min_letters=3):
        pass
    return w or word
