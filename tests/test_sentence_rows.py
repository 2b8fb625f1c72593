"""Spark-free tests of the one normalizer of reference-style sentences
(``sources/document_json.sentence_row``) and of the batches the test helpers
build through it: every layer stays aligned to ``raw``, so a token's codes
land in its own sentence."""

from hypothesis import given, settings, strategies as st

from odinson_spark.lang.compiler import PatternCompiler
from odinson_spark.match.engine import find_matches
from odinson_spark.sources.document_json import doc_to_sentences, sentence_row
from odinson_spark.testing import batch_from_doc_json, sentence_batch_from_docs


def _spans(batch, pattern):
    program = PatternCompiler().compile(pattern)
    return [
        (i, m.start, m.end)
        for i in range(batch.n_sentences)
        for m in find_matches(program, batch.context(i))
    ]


def test_misaligned_word_falls_back_to_raw(misaligned_word_doc):
    rows = doc_to_sentences(misaligned_word_doc)
    assert rows[0]["word"] == rows[0]["raw"] == ["a", "b"]
    batch = batch_from_doc_json(misaligned_word_doc)
    assert _spans(batch, "c") == [(1, 0, 1)]
    assert _spans(batch, "x") == []


# whitespace-only, empty and non-ASCII tokens (NFKC, ligature, casefold and
# diacritic cases) next to arbitrary short text. NUL is left out: the batch
# factorizes tokens with pandas, which compares strings only up to a NUL.
_TOKENS = st.one_of(
    st.sampled_from(["a", "B", " ", "\t", "\u00a0", "", "é", "É", "ﬁ", "½", "™", "ß", "İ", "x y"]),
    st.text(st.characters(blacklist_characters="\x00"), max_size=3),
)
_LAYERS = ("lemma", "tag", "chunk", "entity", "fizz")


@st.composite
def _sentences(draw):
    """Reference-style sentence dicts: a raw layer (or only ``word``), and
    every other layer of a random length — aligned or not."""
    out = []
    for _ in range(draw(st.integers(1, 4))):
        n = draw(st.integers(0, 5))
        toks = st.lists(_TOKENS, min_size=n, max_size=n)
        any_len = st.lists(_TOKENS, max_size=6)
        sent = {}
        if draw(st.booleans()):
            sent["raw"] = draw(toks)
            if draw(st.booleans()):
                sent["word"] = draw(st.one_of(toks, any_len))
        else:
            sent["word"] = draw(toks)
        for k in _LAYERS:
            if draw(st.booleans()):
                sent[k] = draw(st.one_of(toks, any_len))
        if n and draw(st.booleans()):
            end = st.integers(0, n - 1)
            sent["edges"] = draw(st.lists(st.tuples(end, end, st.sampled_from("xy")), max_size=4))
        out.append(sent)
    return out


@given(_sentences())
@settings(max_examples=200, deadline=None)
def test_rows_and_batches_stay_aligned(sentences):
    rows = [sentence_row(s, ("fizz",)) for s in sentences]
    for row in rows:
        n = len(row["raw"])
        for k in ("word", "norm", "norm_alt", *_LAYERS):
            assert row[k] is None or len(row[k]) == n, (k, row)
    batch = sentence_batch_from_docs(sentences)
    assert list(batch.num_tokens) == [len(r["raw"]) for r in rows]
    for k in ("raw", "word", "norm", "norm_alt", *_LAYERS):
        if k not in batch.raw_layers:
            continue
        f = batch.field(k)
        assert len(f.codes) == f.offsets[-1], k
        for i, row in enumerate(rows):
            a, b = f.offsets[i], f.offsets[i + 1]
            assert b - a == batch.num_tokens[i]
            want = row[k] if row[k] is not None else [""] * (b - a)
            assert [f.vocab[c] for c in f.codes[a:b]] == want, (k, i)
