"""Treebank-parity offset tokenizer (F5).

The reference tokenizes with ``nltk.tokenize.TreebankWordTokenizer``
(pinned nltk==3.3 in the reference's setup.py), using ``span_tokenize``
for character offsets (dere/models/_baseline/span_classifier.py:25,265,
361,422). nltk is not installable here, so this module re-implements the
PUBLISHED nltk 3.3 algorithm — the Penn-Treebank sed-script regex chain
(MacIntyre's tokenizer.sed, distributed with nltk under Apache-2.0) plus
nltk's quote-back conversion and ``align_tokens`` offset recovery — from
the published description. Parity is pinned by recorded expected vectors
in tests/test_treebank.py (including nltk's own documented example).

Execution strategy: the regex chain is applied whole-document (one pass
per rule per document — C-speed ``re`` over megabyte strings, never
per-token Python), inside an Arrow-batched ``mapInPandas`` kernel that
emits exploded token rows with exact offsets. Offsets come from a
monotone left-to-right alignment (every Treebank rule only inserts
spaces between substrings of the original text, so each emitted token is
a verbatim substring and alignment is a single forward scan).

Scale: no shuffle, no window; the kernel is embarrassingly parallel per
document. It is the recorded-nltk reference implementation; the pipeline
runs the JVM-side ``tokenize_treebank_sql``, which must equal it.
"""

from __future__ import annotations

import re
from typing import Iterator, List, Tuple

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from dere_spark.operators.tokenize import tokenize

# --- the nltk 3.3 TreebankWordTokenizer rule chain (published) ----------

_STARTING_QUOTES = [
    (re.compile(r'^\"'), r"``"),
    (re.compile(r"(``)"), r" \1 "),
    (re.compile(r"([ \(\[{<])(\"|\'{2})"), r"\1 `` "),
]

_PUNCTUATION = [
    (re.compile(r"([:,])([^\d])"), r" \1 \2"),
    (re.compile(r"([:,])$"), r" \1 "),
    (re.compile(r"\.\.\."), r" ... "),
    (re.compile(r"[;@#$%&]"), r" \g<0> "),
    (re.compile(r'([^\.])(\.)([\]\)}>"\']*)\s*$'), r"\1 \2\3 "),
    (re.compile(r"[?!]"), r" \g<0> "),
    (re.compile(r"([^'])' "), r"\1 ' "),
]

_PARENS_BRACKETS = [(re.compile(r"[\]\[\(\)\{\}\<\>]"), r" \g<0> ")]

_DOUBLE_DASHES = [(re.compile(r"--"), r" -- ")]

_ENDING_QUOTES = [
    (re.compile(r'"'), " '' "),
    (re.compile(r"(\S)(\'\')"), r"\1 \2 "),
    (re.compile(r"([^' ])('[sS]|'[mM]|'[dD]|') "), r"\1 \2 "),
    (re.compile(r"([^' ])('ll|'LL|'re|'RE|'ve|'VE|n't|N'T) "), r"\1 \2 "),
]

# MacIntyreContractions (nltk 3.3)
_CONTRACTIONS2 = [
    re.compile(p)
    for p in (
        r"(?i)\b(can)(?#X)(not)\b",
        r"(?i)\b(d)(?#X)('ye)\b",
        r"(?i)\b(gim)(?#X)(me)\b",
        r"(?i)\b(gon)(?#X)(na)\b",
        r"(?i)\b(got)(?#X)(ta)\b",
        r"(?i)\b(lem)(?#X)(me)\b",
        r"(?i)\b(mor)(?#X)('n)\b",
        r"(?i)\b(wan)(?#X)(na)\s",
    )
]
_CONTRACTIONS3 = [
    re.compile(p) for p in (r"(?i) ('t)(?#X)(is)\b", r"(?i) ('t)(?#X)(was)\b")
]

_QUOTE_FINDER = re.compile(r"``|'{2}|\"")


def treebank_tokens(text: str) -> List[str]:
    """nltk 3.3 ``TreebankWordTokenizer.tokenize`` (convert_parentheses
    off, as the reference calls it)."""
    for regexp, substitution in _STARTING_QUOTES:
        text = regexp.sub(substitution, text)
    for regexp, substitution in _PUNCTUATION:
        text = regexp.sub(substitution, text)
    for regexp, substitution in _PARENS_BRACKETS:
        text = regexp.sub(substitution, text)
    for regexp, substitution in _DOUBLE_DASHES:
        text = regexp.sub(substitution, text)
    text = " " + text + " "
    for regexp, substitution in _ENDING_QUOTES:
        text = regexp.sub(substitution, text)
    for regexp in _CONTRACTIONS2:
        text = regexp.sub(r" \1 \2 ", text)
    for regexp in _CONTRACTIONS3:
        text = regexp.sub(r" \1 \2 ", text)
    return text.split()


def treebank_spans(text: str) -> List[Tuple[int, int]]:
    """nltk 3.3 ``span_tokenize``: tokenize, map converted quote tokens
    back to their raw source text, then align tokens left-to-right
    (nltk.tokenize.util.align_tokens).

    DELIBERATE ROBUSTNESS DEVIATION: nltk's align_tokens raises
    ValueError when a quote-rewritten form (`` / '') is GLUED inside a
    larger token or a literal `"` hides mid-token — adversarial but real
    on web text (found by tests/test_tokenizer_fuzz.py). Where nltk-3.3
    would crash, this aligner falls back to a regex that lets each
    rewritten quote form match any of its possible source spellings, so
    offsets always land on a verbatim source substring (the fidelity
    invariant) and no document can kill a 100 TB job. On any text nltk
    aligns, the output is identical to nltk's."""
    raw_tokens = treebank_tokens(text)

    def strict() -> List[Tuple[int, int]]:
        # nltk semantics: converted quote tokens are re-mapped to source
        # spellings in finder order, then aligned with str.index
        if ('"' in text) or ("''" in text):
            matched = [m.group() for m in _QUOTE_FINDER.finditer(text)]
            tokens = [
                matched.pop(0) if (tok in ('"', "``", "''") and matched) else tok
                for tok in raw_tokens
            ]
        else:
            tokens = raw_tokens
        point = 0
        out: List[Tuple[int, int]] = []
        for token in tokens:
            start = text.index(token, point)  # ValueError -> tolerant pass
            point = start + len(token)
            out.append((start, point))
        return out

    def tolerant() -> List[Tuple[int, int]]:
        # full realignment: every rewritten quote form inside any token
        # may match any of ITS possible source spellings (ADVICE r4). The
        # spellings follow the nltk 3.3 quote rules: `` arises from ``,
        # from a leading/post-bracket ", OR from a post-bracket '' (the
        # STARTING_QUOTES rule ([(\[{<])("|'{2}) — fuzz case "''b``''");
        # '' arises only from '' or " (no rule ever rewrites `` to '').
        # The substitution is a SINGLE pass with a callback: sequential
        # str.replace calls rewrote the '"' inside the just-inserted
        # alternations, nesting them into (?:''|(?:``|''|")) and letting
        # '' align to a source `` it can never come from.
        quote_forms = {
            "``": "(?:``|''|\")",
            "''": "(?:''|\")",
            '"': "(?:``|''|\")",
        }
        point = 0
        out: List[Tuple[int, int]] = []
        for token in raw_tokens:
            pat = re.sub(
                r"``|''|\"",
                lambda m: quote_forms[m.group()],
                re.escape(token),
            )
            m = re.compile(pat).search(text, point)
            if m is None:  # pragma: no cover - alignment truly impossible
                raise ValueError(f"cannot align {token!r} in {text!r}")
            point = m.end()
            out.append((m.start(), m.end()))
        return out

    try:
        return strict()
    except ValueError:
        return tolerant()


def _treebank_rule_chain(word, is_first, is_last):
    """The nltk 3.3 rule chain over ONE whitespace-delimited word, as a
    Catalyst Column (Java regex). Rules never merge across whitespace —
    they only insert it — so applying the chain per word is equivalent to
    applying it to the full text, with two text-anchored rules gated on
    the first/last word (``^"`` and the final-period splitter) and the
    end-anchored variants standing in for "followed by a space" on
    non-final words. Replacements use Java's ``$n`` group syntax; inline
    ``(?#X)`` comments from the published patterns are dropped (Java has
    no regex comments); otherwise the patterns are the nltk 3.3 chain
    verbatim, in order."""
    w = F.when(is_first, F.regexp_replace(word, r'^"', "``")).otherwise(word)
    # STARTING_QUOTES 2-3 (the space class gains ^: word-initial == after
    # an original inter-word space)
    w = F.regexp_replace(w, r"(``)", " $1 ")
    w = F.regexp_replace(w, r"(^|[ \(\[{<])(\"|'{2})", "$1 `` ")
    # PUNCTUATION
    w = F.regexp_replace(w, r"([:,])([^\d])", " $1 $2")
    w = F.regexp_replace(w, r"([:,])$", " $1 ")
    w = F.regexp_replace(w, r"\.\.\.", " ... ")
    w = F.regexp_replace(w, r"[;@#$%&]", " $0 ")
    w = F.when(
        is_last,
        F.regexp_replace(w, r'([^\.])(\.)([\]\)}>"\']*)\s*$', "$1 $2$3 "),
    ).otherwise(w)
    w = F.regexp_replace(w, r"[?!]", " $0 ")
    w = F.when(
        is_last,  # text-final quote keeps nltk's no-trailing-space no-op
        F.regexp_replace(w, r"([^'])' ", "$1 ' "),
    ).otherwise(F.regexp_replace(w, r"([^'])'( |$)", "$1 ' $2"))
    # PARENS_BRACKETS + DOUBLE_DASHES
    w = F.regexp_replace(w, r"[\]\[\(\)\{\}<>]", " $0 ")
    w = F.regexp_replace(w, r"--", " -- ")
    # nltk pads before the ending-quote/contraction rules
    w = F.concat(F.lit(" "), w, F.lit(" "))
    # ENDING_QUOTES
    w = F.regexp_replace(w, r'"', " '' ")
    w = F.regexp_replace(w, r"(\S)('')", "$1 $2 ")
    w = F.regexp_replace(w, r"([^' ])('[sS]|'[mM]|'[dD]|') ", "$1 $2 ")
    w = F.regexp_replace(
        w, r"([^' ])('ll|'LL|'re|'RE|'ve|'VE|n't|N'T) ", "$1 $2 "
    )
    # MacIntyre contractions
    for pat in (
        r"(?i)\b(can)(not)\b",
        r"(?i)\b(d)('ye)\b",
        r"(?i)\b(gim)(me)\b",
        r"(?i)\b(gon)(na)\b",
        r"(?i)\b(got)(ta)\b",
        r"(?i)\b(lem)(me)\b",
        r"(?i)\b(mor)('n)\b",
        r"(?i)\b(wan)(na)\s",
    ):
        w = F.regexp_replace(w, pat, " $1 $2 ")
    for pat in (r"(?i) ('t)(is)\b", r"(?i) ('t)(was)\b"):
        w = F.regexp_replace(w, pat, " $1 $2 ")
    return w


#: Pure-alphanumeric words no rule can touch — except the all-letter
#: contractions, which must take the slow path.
_LETTER_CONTRACTIONS = ("cannot", "gimme", "gonna", "gotta", "lemme", "wanna")


def tokenize_treebank_sql(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Treebank tokenization entirely JVM-side — the webtext default.

    Physical strategy: Python<->JVM Arrow IPC of the full token stream
    costs more than a JVM doc_id shuffle (webtext.py module note), so this
    variant keeps every byte in the JVM: whitespace words come from the existing windowed ``tokenize``
    (single doc_id exchange, reused downstream), then each word is
    sub-split by the nltk 3.3 rule chain compiled to ``regexp_replace``
    Catalyst expressions, with quote-back conversion and offsets done by
    array higher-order functions. Sub-token offsets are per-word prefix
    sums — exact, because after quote-back the sub-tokens partition the
    word's characters (Treebank rules only insert whitespace). A fast
    path skips the ~20-regex chain for purely alphanumeric words (the
    overwhelming majority of web tokens).

    Parity: equals the recorded-nltk-3.3 Arrow kernel (`tokenize_treebank`)
    on every recorded vector and fixture (tests/test_treebank.py). Known
    deviations, documented: (a) punctuation abutting a TAB/NEWLINE is
    treated as space-adjacent (nltk's literal-space contexts see the real
    character); (b) nltk's quote-back pops finder matches across word
    boundaries in the pathological embedded-unconsumed-quote case — this
    variant stays word-local. Neither occurs in the reference corpora or
    the recorded vectors.
    """
    from pyspark.sql import Window

    words = tokenize(documents, sep=r"[\s]", text_col=text_col, sep_len=1)
    wdoc = Window.partitionBy("doc_id")
    words = words.withColumn(
        "_last_idx",
        F.max(F.when(F.length("token") > 0, F.col("token_idx"))).over(wdoc),
    )
    is_first = F.col("token_idx") == 0
    is_last = F.col("token_idx") == F.col("_last_idx")
    fast = (~F.col("token").rlike("[^A-Za-z0-9]")) & (
        ~F.lower("token").isin(*_LETTER_CONTRACTIONS)
    )
    chain = _treebank_rule_chain(F.col("token"), is_first, is_last)
    raw = F.when(fast, F.array(F.col("token"))).otherwise(
        F.filter(F.split(chain, " ", -1), lambda t: t != F.lit(""))
    )
    sub = words.select(
        "doc_id",
        F.col("token_idx").alias("_widx"),
        F.col("left").alias("_wleft"),
        F.col("token").alias("_word"),
        raw.alias("_raw"),
    )
    # quote-back (nltk span_tokenize): the i-th converted-quote token maps
    # to the i-th quote-finder match in the ORIGINAL word, restoring the
    # verbatim substring so offsets stay exact. Gated on quote presence so
    # the regexp_extract_all + transform run only on quote-bearing words.
    quoteish = lambda t: t.isin('"', "``", "''")  # noqa: E731
    has_quote = F.col("_word").rlike("``|''|\"")
    sub = sub.withColumn(
        "_qm",
        F.when(has_quote, F.regexp_extract_all("_word", F.lit("``|''|\""), 0)),
    )
    sub = sub.withColumn(
        "_fixed",
        F.filter(
            F.when(
                has_quote,
                F.transform(
                    "_raw",
                    lambda t, i: F.when(
                        quoteish(t),
                        F.element_at(
                            "_qm",
                            F.size(
                                F.filter(F.slice("_raw", F.lit(1), i + 1), quoteish)
                            ),
                        ),
                    ).otherwise(t),
                ),
            ).otherwise(F.col("_raw")),
            lambda t: F.length(t) > 0,
        ),
    ).withColumn("_lens", F.expr("transform(_fixed, t -> length(t))"))
    # global token numbering as a WORD-level prefix sum over sub-token
    # counts: same partition key + sort order as the tokenize window, so
    # Catalyst reuses one exchange + one sort (a row_number over the
    # exploded sub-token stream would pay a second, bigger sort).
    wword = (
        Window.partitionBy("doc_id")
        .orderBy("_widx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sub = sub.withColumn(
        "_base_idx", F.coalesce(F.sum(F.size("_fixed")).over(wword), F.lit(0))
    )
    tok = sub.select(
        "doc_id", "_base_idx", "_wleft", "_lens",
        F.posexplode("_fixed").alias("_sidx", "token"),
    )
    rel_left = F.expr("aggregate(slice(_lens, 1, _sidx), 0, (a, x) -> a + x)")
    return tok.select(
        "doc_id",
        (F.col("_base_idx") + F.col("_sidx")).cast("int").alias("token_idx"),
        "token",
        (F.col("_wleft") + rel_left).cast("int").alias("left"),
    ).withColumn("right", (F.col("left") + F.length("token")).cast("int"))


def tokenize_treebank(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """documents(doc_id, text, ...) -> tokens(doc_id, token_idx, token,
    left, right) with Treebank segmentation and exact offsets.

    Same output contract as ``tokenize`` (the fidelity invariant
    ``substring(text, left+1, right-left) == token`` holds), so it drops
    into every downstream operator unchanged.
    """
    import pandas as pd

    doc_id_type = documents.schema["doc_id"].dataType.simpleString()

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_doc, out_idx, out_tok, out_l, out_r = [], [], [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf[text_col]):
                if text is None:
                    continue
                for i, (l, r) in enumerate(treebank_spans(text)):
                    out_doc.append(doc_id)
                    out_idx.append(i)
                    out_tok.append(text[l:r])
                    out_l.append(l)
                    out_r.append(r)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out_doc, dtype=pdf["doc_id"].dtype),
                    "token_idx": pd.Series(out_idx, dtype="int32"),
                    "token": pd.Series(out_tok, dtype="object"),
                    "left": pd.Series(out_l, dtype="int32"),
                    "right": pd.Series(out_r, dtype="int32"),
                }
            )

    return documents.select("doc_id", text_col).mapInPandas(
        kernel,
        f"doc_id {doc_id_type}, token_idx int, token string, left int, right int",
    )
