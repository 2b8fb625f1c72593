"""Field hydration at configurable verbosity (DataGatherer parity).

The reference hydrates mention/document token fields lazily on the Mention
object at three verbosity levels (Mention.scala:85-128,
DataGatherer.scala:95-107, VerboseLevels Minimal < Display < All). The Spark
mention table hydrates eagerly inside the matcher UDF (hydration there is
free — the token arrays are already in memory), so this module exists for
API parity and for driver-side consumers that hold a
:class:`~odinson_spark.match.context.SentenceBatch`: the same population
levels, the same "not populated unless asked" contract, the same
missing-field failure mode (TestMention.scala:23-91,
TestExtractorEngine.scala:64-93).
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field
from typing import Dict, List, Optional, Sequence

from .errors import OdinsonException


class VerboseLevels:
    """Population levels (DataGatherer.scala VerboseLevels enum)."""

    Minimal = 0  # spans only, no token fields
    Display = 1  # the display field only (raw)
    All = 2  # every stored field


DISPLAY_FIELD = "raw"


def get_tokens_for_span(batch, sent_idx: int, field_name: str, start: int, end: int) -> List[str]:
    """Tokens of ``field_name`` in [start, end) of one sentence.

    Raises :class:`OdinsonException` when the field was not stored —
    the reference behavior for ``getTokensForSpan`` on a non-stored field
    (TestExtractorEngine.scala:85-91)."""
    if not batch.has_field(field_name):
        raise OdinsonException(f"field {field_name!r} was not stored in this index")
    toks = batch.raw_layers[field_name][sent_idx]
    if toks is None:
        raise OdinsonException(f"field {field_name!r} was not stored for sentence {sent_idx}")
    return list(toks[start:end])


@dataclass
class LazyMention:
    """A mention view whose token fields populate on demand.

    ``stored_fields`` plays the role of the reference's
    ``odinson.index.storedFields`` config: ``populate_fields(All)`` hydrates
    exactly those, ``populate_fields(Display)`` only the display field."""

    batch: object  # SentenceBatch
    sent_idx: int
    doc_id: str
    sent_id: int
    label: Optional[str]
    found_by: str
    start: int
    end: int
    arguments: Dict[str, List["LazyMention"]] = dc_field(default_factory=dict)
    stored_fields: Sequence[str] = (DISPLAY_FIELD,)
    document_fields: Dict[str, List[str]] = dc_field(default_factory=dict)
    mention_fields: Dict[str, List[str]] = dc_field(default_factory=dict)
    _level: int = VerboseLevels.Minimal

    @property
    def text(self) -> str:
        """Display-field text; unavailable until populated
        (TestMention.scala:23-34 'not be populated unless asked to be')."""
        if self._level < VerboseLevels.Display:
            raise OdinsonException(
                "mention fields are not populated; call populate_fields() first"
            )
        return " ".join(self.mention_fields[DISPLAY_FIELD])

    def has_fields_populated(self, level: int = VerboseLevels.All) -> bool:
        return self._level >= level

    def populate_fields(self, level: int = VerboseLevels.All) -> None:
        """Hydrate this mention and its arguments to ``level``
        (Mention.scala:85-128 populates arguments transitively)."""
        if level <= self._level:
            return
        names = (
            [DISPLAY_FIELD]
            if level == VerboseLevels.Display
            else [f for f in self.stored_fields]
        )
        if DISPLAY_FIELD not in names:
            names.insert(0, DISPLAY_FIELD)
        n = int(self.batch.num_tokens[self.sent_idx])
        for name in names:
            self.document_fields[name] = get_tokens_for_span(
                self.batch, self.sent_idx, name, 0, n
            )
            self.mention_fields[name] = get_tokens_for_span(
                self.batch, self.sent_idx, name, self.start, self.end
            )
        for arg_mentions in self.arguments.values():
            for a in arg_mentions:
                a.populate_fields(level)
        self._level = level

    def copy(self, **overrides) -> "LazyMention":
        """Copy preserving the population level (TestMention.scala:75-91)."""
        new = LazyMention(
            batch=self.batch,
            sent_idx=self.sent_idx,
            doc_id=self.doc_id,
            sent_id=self.sent_id,
            label=self.label,
            found_by=self.found_by,
            start=self.start,
            end=self.end,
            arguments=self.arguments,
            stored_fields=self.stored_fields,
            document_fields=dict(self.document_fields),
            mention_fields=dict(self.mention_fields),
        )
        new._level = self._level
        for k, v in overrides.items():
            setattr(new, k, v)
        return new

    def __eq__(self, other) -> bool:
        if not isinstance(other, LazyMention):
            return NotImplemented
        return (
            self.doc_id,
            self.sent_id,
            self.label,
            self.found_by,
            self.start,
            self.end,
        ) == (
            other.doc_id,
            other.sent_id,
            other.label,
            other.found_by,
            other.start,
            other.end,
        )


def lazy_mentions(
    batch,
    mentions,
    sent_index: Optional[Dict] = None,
    stored_fields: Sequence[str] = (DISPLAY_FIELD,),
) -> List[LazyMention]:
    """Wrap matcher :class:`Mention` results in lazy views.

    ``sent_index``: (doc_id, sent_id) → batch row; defaults to sent_id ==
    batch row (the single-doc test layout)."""

    def wrap(m) -> LazyMention:
        idx = sent_index[(m.doc_id, m.sent_id)] if sent_index else m.sent_id
        return LazyMention(
            batch=batch,
            sent_idx=idx,
            doc_id=m.doc_id,
            sent_id=m.sent_id,
            label=m.label,
            found_by=m.found_by,
            start=m.start,
            end=m.end,
            arguments={
                name: [wrap(a) for a in args] for name, args in m.arguments.items()
            },
            stored_fields=stored_fields,
        )

    return [wrap(m) for m in mentions]
