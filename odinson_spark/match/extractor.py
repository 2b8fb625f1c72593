"""Mentions + grammar-cascade execution over one sentence batch.

Parity targets:
* Mention model — core/src/main/scala/ai/lum/odinson/Mention.scala:9-210
* cascade / state semantics — ExtractorEngine.scala:441-479 (epoch loop),
  :488-563 (argument promotion), :374-412 (no-state single pass)

The cascade here is the *local* (per-batch) form: the Spark pipeline runs
exactly this code inside ``mapInPandas``, and when a grammar needs
cross-epoch state, the pipeline checkpoints the mentions DataFrame between
epochs and broadcast-joins it back (see pipeline/extract.py). Because the
state in the reference is keyed (docId, sentId, label) and our sentences are
self-contained rows, per-sentence state is safely partition-local.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Dict, List, Optional, Sequence, Set, Tuple

from .context import SentenceBatch
from .engine import filter_trigger_overlaps, find_matches
from .matches import BaseMatch, EventMatch, StateMatch
from ..lang.rules import Extractor


@dataclass
class Mention:
    doc_id: str
    sent_id: int
    label: Optional[str]
    found_by: str
    start: int
    end: int
    match: BaseMatch
    arguments: Dict[str, List["Mention"]] = field(default_factory=dict)

    def key(self) -> Tuple:
        return (self.doc_id, self.sent_id, self.label, self.start, self.end, self.found_by)

    def state_key(self) -> Tuple:
        """Identity used by the reference's mention state: MemoryState keys
        buckets by (doc, sent, label) and its SortedSet ordering
        (MemoryState.scala:122-144) compares only match.start and the min
        capture start — end and foundBy do NOT distinguish mentions, so a
        promoted argument identical to an existing state mention is dropped
        rather than double-added. The reference StateMatch retains
        namedCaptures through conversion (OdinsonMatch.scala), so the capture
        positions come from the Mention's arguments, which survive our
        conversion too."""
        starts = [a.start for args in self.arguments.values() for a in args]
        if not starts and self.match is not None:
            starts = [c.match.start for c in self.match.named_captures()]
        min_cap = min(starts, default=self.start)
        return (self.doc_id, self.sent_id, self.label, self.start, min_cap)


def _mention_from_match(
    m: BaseMatch, doc_id: str, sent_id: int, extractor: Extractor
) -> Mention:
    args: Dict[str, List[Mention]] = {}
    for cap in m.named_captures():
        args.setdefault(cap.name, []).append(
            Mention(
                doc_id=doc_id,
                sent_id=sent_id,
                label=cap.label,
                found_by=extractor.name,
                start=cap.match.start,
                end=cap.match.end,
                match=cap.match,
            )
        )
    label = extractor.label
    return Mention(doc_id, sent_id, label, extractor.name, m.start, m.end, m, args)


def _promote(m: Mention, using_state: bool) -> List[Mention]:
    """Argument promotion (ExtractorEngine.scala:504-563): promoted args become
    top-level mentions unless they already came from the state."""
    results: List[Mention] = []
    em = m.match
    if isinstance(em, EventMatch):
        names = []
        for meta in em.arg_metadata:
            if meta.promote and meta.name not in names:
                names.append(meta.name)
        for name in names:
            for arg in m.arguments.get(name, []):
                if not isinstance(arg.match, StateMatch):
                    if using_state:
                        # reference StateMatch.fromOdinsonMatch retains
                        # namedCaptures through the conversion
                        # (OdinsonMatch.scala) — keep the arg's own captures
                        arg.match = StateMatch(
                            arg.start, arg.end, tuple(arg.match.named_captures())
                        )
                    results.append(arg)
    if using_state and not isinstance(m.match, StateMatch):
        m = Mention(
            m.doc_id,
            m.sent_id,
            m.label,
            m.found_by,
            m.start,
            m.end,
            # retain namedCaptures across the state conversion so event args
            # / named captures survive serialization (reference
            # OdinsonMatch.scala StateMatch keeps namedCaptures)
            StateMatch(m.start, m.end, tuple(em.named_captures())),
            m.arguments,
        )
    results.append(m)
    return results


class BatchExtractor:
    """Run a compiled grammar over a SentenceBatch."""

    def __init__(self, extractors: Sequence[Extractor], max_epochs: int = 100):
        self.extractors = list(extractors)
        self.max_epochs = max_epochs

    def _run_epoch(
        self,
        batch: SentenceBatch,
        doc_ids: Sequence[str],
        sent_ids: Sequence[int],
        epoch: Optional[int],
    ) -> List[Mention]:
        active = [
            e for e in self.extractors if epoch is None or e.priority.matches(epoch)
        ]
        mentions: List[Mention] = []
        for i in range(batch.n_sentences):
            ctx = batch.context(i)
            for e in active:
                for m in filter_trigger_overlaps(find_matches(e.program, ctx)):
                    mentions.append(_mention_from_match(m, doc_ids[i], sent_ids[i], e))
        return mentions

    def extract_no_state(
        self,
        batch: SentenceBatch,
        doc_ids: Sequence[str],
        sent_ids: Sequence[int],
    ) -> List[Mention]:
        """Single pass, priorities ignored (ExtractorEngine.scala:374-412)."""
        out: List[Mention] = []
        for m in self._run_epoch(batch, doc_ids, sent_ids, None):
            out.extend(_promote(m, using_state=False))
        return out

    def extract_mentions(
        self,
        batch: SentenceBatch,
        doc_ids: Sequence[str],
        sent_ids: Sequence[int],
    ) -> List[Mention]:
        """Priority cascade with a mention state; runs to quiescence."""
        if batch._mentions is None:
            batch._mentions = [dict() for _ in range(batch.n_sentences)]
        sent_index = {(doc_ids[i], sent_ids[i]): i for i in range(batch.n_sentences)}
        state: List[Mention] = []
        seen: Set[Tuple] = set()
        min_iterations = max((e.priority.min_epoch() for e in self.extractors), default=1)
        epoch = 1
        while epoch <= self.max_epochs:
            processed: List[Mention] = []
            for m in self._run_epoch(batch, doc_ids, sent_ids, epoch):
                processed.extend(_promote(m, using_state=True))
            new = []
            batch_keys = set()
            for m in processed:
                k = m.state_key()
                if k not in seen and k not in batch_keys:
                    batch_keys.add(k)
                    new.append(m)
            if new:
                for m in new:
                    seen.add(m.state_key())
                    state.append(m)
                    if m.label:
                        i = sent_index[(m.doc_id, m.sent_id)]
                        batch._mentions[i].setdefault(m.label, []).append(
                            (m.start, m.end)
                        )
                epoch += 1
            else:
                epoch += 1
                if epoch > min_iterations:
                    break
        return state
