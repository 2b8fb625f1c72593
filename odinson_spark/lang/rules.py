"""Rule-file reader: YAML grammars with variables, imports, priorities, and
per-file metadata filters.

Parity: /root/reference/core/src/main/scala/ai/lum/odinson/RuleReader.scala
(vars :373-385, rules :448-468, imports :408-446, metadata filters :303-336)
and lucene/search/Priority.scala:14-46. All of this runs on the driver; the
compiled extractors are broadcast to executors.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from pathlib import Path
from typing import Dict, List, Optional, Sequence, Tuple

import yaml

from .compiler import PatternCompiler
from ..match.program import Prog


# ---------------------------------------------------------------------------
# priorities: "2", "2-5", "3+", "[2,5]", "2,4,6"
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Priority:
    spec: str

    def matches(self, epoch: int) -> bool:
        s = self.spec.strip()
        m = re.fullmatch(r"(\d+)", s)
        if m:
            return epoch == int(m.group(1))
        m = re.fullmatch(r"(\d+)\s*-\s*(\d+)", s)
        if m:
            return int(m.group(1)) <= epoch <= int(m.group(2))
        m = re.fullmatch(r"(\d+)\s*\+", s)
        if m:
            return epoch >= int(m.group(1))
        m = re.fullmatch(r"\[\s*(\d+(\s*,\s*\d+)*)\s*\]", s)
        if m:
            return epoch in {int(x) for x in m.group(1).split(",")}
        raise ValueError(f"invalid priority spec: {self.spec!r}")

    def min_epoch(self) -> int:
        return min(int(x) for x in re.findall(r"\d+", self.spec))


# ---------------------------------------------------------------------------
# variable substitution: ${var} in any rule field (utils/VariableSubstitutor)
# ---------------------------------------------------------------------------


_VAR_RE = re.compile(r"\$\{\s*([A-Za-z_][\w.]*)\s*\}")


def substitute_vars(text: str, variables: Dict[str, str], _depth: int = 0) -> str:
    if _depth > 10:
        raise ValueError("variable substitution too deep (cycle?)")
    def repl(m):
        name = m.group(1)
        if name not in variables:
            raise KeyError(f"undefined variable ${{{name}}}")
        return variables[name]
    out = _VAR_RE.sub(repl, text)
    if _VAR_RE.search(out) and out != text:
        return substitute_vars(out, variables, _depth + 1)
    return out


def _normalize_vars(raw: Optional[dict]) -> Dict[str, str]:
    """String vars pass through; list vars are OR-joined with ``|``
    (RuleReader.scala:373-385)."""
    out: Dict[str, str] = {}
    for k, v in (raw or {}).items():
        if isinstance(v, (list, tuple)):
            out[str(k)] = "|".join(str(x) for x in v)
        else:
            out[str(k)] = str(v)
    return out


# ---------------------------------------------------------------------------
# rules & extractors
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Rule:
    name: str
    label: Optional[str]
    ruletype: str  # "basic" | "event"
    priority: str
    pattern: str


@dataclass
class Extractor:
    name: str
    label: Optional[str]
    priority: Priority
    program: Prog
    rule: Rule


class RuleReader:
    def __init__(self, compiler: Optional[PatternCompiler] = None):
        self.compiler = compiler or PatternCompiler()

    @classmethod
    def with_extra_token_fields(cls, extra_token_fields: Sequence[str]) -> "RuleReader":
        """Reader whose parser accepts user-configured token fields on top of
        the built-ins (reference allTokenFields, reference.conf:46-57)."""
        if not extra_token_fields:
            return cls()
        from .parser import ALL_TOKEN_FIELDS, QueryParser

        fields = ALL_TOKEN_FIELDS + tuple(
            f for f in extra_token_fields if f not in ALL_TOKEN_FIELDS
        )
        return cls(PatternCompiler(QueryParser(all_token_fields=fields)))

    def rules_from_string(
        self,
        text: str,
        variables: Optional[Dict[str, str]] = None,
        base_dir: Optional[Path] = None,
        _hard_vars: Optional[Dict[str, str]] = None,
        _seen_paths: Optional[frozenset] = None,
    ) -> Tuple[List[Rule], Optional[str]]:
        """Variable precedence mirrors the reference (TestRuleFile.scala:
        'hard-coded > import > parent > local'): caller-supplied variables
        trump import-site vars, which trump the parent file's vars, which
        trump the imported file's own vars."""
        if _hard_vars is None:
            _hard_vars = dict(variables or {})  # top-level caller vars
        data = yaml.safe_load(text) or {}
        raw_vars = data.get("vars")
        if isinstance(raw_vars, str):
            # `vars: vars.yml` — variables imported from a YAML file
            # (RuleReader.scala:373-385)
            if base_dir is None:
                raise ValueError("vars file import used without a base directory")
            path = base_dir / substitute_vars(raw_vars, variables or {})
            raw_vars = yaml.safe_load(path.read_text())
        file_vars = _normalize_vars(raw_vars)
        merged = dict(file_vars)
        if variables:
            merged.update(variables)  # parent/import-site/hard-coded win
        metadata_filter = data.get("metadataFilters")
        rules: List[Rule] = []
        for entry in data.get("rules", []) or []:
            if "import" in entry:
                if base_dir is None:
                    raise ValueError("import used without a base directory")
                import_vars = dict(merged)
                import_vars.update(_normalize_vars(entry.get("vars")))
                import_vars.update(_hard_vars)  # hard-coded trumps all
                path = base_dir / substitute_vars(str(entry["import"]), import_vars)
                resolved = path.resolve()
                seen = _seen_paths or frozenset()
                if resolved in seen:
                    raise ValueError(f"circular rule-file import: {path}")
                sub_rules, _ = self.rules_from_string(
                    path.read_text(), import_vars, path.parent, _hard_vars,
                    seen | {resolved},
                )
                rules.extend(sub_rules)
                continue
            rules.append(self._mk_rule(entry, merged))
        return rules, metadata_filter

    def _mk_rule(self, entry: dict, variables: Dict[str, str]) -> Rule:
        def sub(x):
            return substitute_vars(str(x), variables) if x is not None else None

        name = sub(entry.get("name"))
        if not name:
            raise ValueError(f"rule without a name: {entry!r}")
        ruletype = sub(entry.get("type", "basic"))
        if ruletype not in ("basic", "event"):
            raise ValueError(f"invalid rule type {ruletype!r} in rule {name!r}")
        return Rule(
            name=name,
            label=sub(entry.get("label")),
            ruletype=ruletype,
            priority=sub(entry.get("priority", "1")),
            pattern=sub(entry.get("pattern")),
        )

    def compile_rules(
        self,
        text: str,
        variables: Optional[Dict[str, str]] = None,
        base_dir: Optional[Path] = None,
    ) -> Tuple[List[Extractor], Optional[str]]:
        rules, metadata_filter = self.rules_from_string(text, variables, base_dir)
        extractors = []
        for r in rules:
            if r.ruletype == "event":
                program = self.compiler.compile_event(
                    self.compiler.parser.parse_event_query(r.pattern)
                )
            else:
                program = self.compiler.compile(r.pattern)
            extractors.append(
                Extractor(r.name, r.label, Priority(r.priority), program, r)
            )
        return extractors, metadata_filter
