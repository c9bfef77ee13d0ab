"""Drain log-template mining, implemented from scratch.

Behavioral contract follows the published Drain algorithm (He et al., ICWS'17)
and its Drain3 streaming formulation, which is also what the reference wraps
(/root/reference/logai/algorithms/parsing_algo/drain.py:121-438). Observable
semantics we pin for parity (and unit-test against the reference's outputs):

- tokens = line.strip(), extra delimiters replaced by space, split on
  whitespace (ref drain.py:356-361)
- prefix tree: level 1 keyed by token count, then by the first
  ``depth - 2`` tokens; tokens containing digits route to the wildcard
  branch; ``max_children`` caps fan-out with a wildcard fallback
  (ref drain.py:195-259)
- similarity of a line vs a cluster template = (# positions where
  template token == line token, template wildcards skipped) / len;
  wildcard positions counted only when ``include_params`` (ref
  drain.py:261-279); best cluster wins ties by higher wildcard count
- fit: no match above ``sim_th`` -> new cluster whose template is the
  line itself; match -> differing positions become the wildcard
  (ref drain.py:363-405)
- match after fit: sim_th=1.0 with include_params=True, i.e. every
  non-wildcard template token must equal the line token
  (ref drain.py:407-417)

This module is pure Python (no Spark imports) so it can be shipped inside
Arrow UDF closures; the distributed wrapper lives in
``logai_spark.parse.distributed``.
"""

from __future__ import annotations

import hashlib
from collections import OrderedDict
from dataclasses import dataclass, field


@dataclass
class DrainConfig:
    """Tuning knobs; defaults match the reference defaults (drain.py:38-43)."""

    depth: int = 3
    sim_th: float = 0.4
    max_children: int = 100
    max_clusters: int | None = None
    extra_delimiters: tuple = ()
    wildcard: str = "*"
    # fixed shuffle width for the distributed mining pass — deliberately NOT
    # tied to cluster parallelism so the mined template dictionary is
    # identical at any executor count (see distributed.mine_templates)
    mine_partitions: int = 64

    def __post_init__(self):
        if self.depth < 3:
            raise ValueError("depth must be >= 3")


@dataclass
class _Cluster:
    template: tuple
    cluster_id: int
    size: int = 1


class _TreeNode:
    __slots__ = ("children", "cluster_ids")

    def __init__(self):
        self.children: dict[str, _TreeNode] = {}
        self.cluster_ids: list[int] = []


def template_id_of(template: str) -> str:
    """Deterministic, cross-run-stable template id (md5 of template text).

    Same idea as the reference's AEL event ids (ael.py:29,38); stable ids are
    what make per-template sink routing resumable/idempotent.
    """
    return hashlib.md5(template.encode("utf-8")).hexdigest()[:16]


class DrainTree:
    """A single Drain parse tree: streaming ``fit`` + frozen ``match``."""

    def __init__(self, config: DrainConfig | None = None):
        self.cfg = config or DrainConfig()
        self._root = _TreeNode()
        self._clusters: OrderedDict[int, _Cluster] = OrderedDict()
        self._next_id = 0
        # internal prefix depth: levels below the token-count level
        self._prefix_depth = self.cfg.depth - 2

    # ---------------- tokenization ----------------

    def tokenize(self, line: str) -> list[str]:
        line = line.strip()
        for d in self.cfg.extra_delimiters:
            line = line.replace(d, " ")
        return line.split()

    # ---------------- cluster bookkeeping (LRU when capped) ----------------

    def _get_cluster(self, cid: int, touch: bool = False) -> _Cluster | None:
        c = self._clusters.get(cid)
        if c is not None and touch and self.cfg.max_clusters is not None:
            self._clusters.move_to_end(cid)
        return c

    def _put_cluster(self, c: _Cluster) -> None:
        self._clusters[c.cluster_id] = c
        if self.cfg.max_clusters is not None:
            while len(self._clusters) > self.cfg.max_clusters:
                self._clusters.popitem(last=False)

    @property
    def clusters(self) -> list[_Cluster]:
        return list(self._clusters.values())

    def templates(self) -> list[tuple[str, int]]:
        """(template string, size) for every live cluster."""
        return [(" ".join(c.template), c.size) for c in self._clusters.values()]

    # ---------------- tree navigation ----------------

    @staticmethod
    def _has_digit(token: str) -> bool:
        return any(ch.isdigit() for ch in token)

    def _leaf_for(self, tokens: list[str]) -> _TreeNode | None:
        """Descend by token count then first tokens; wildcard fallback."""
        node = self._root.children.get(str(len(tokens)))
        if node is None:
            return None
        if not tokens:
            return node
        depth = 1
        for tok in tokens:
            if depth >= self._prefix_depth or depth == len(tokens):
                break
            nxt = node.children.get(tok)
            if nxt is None:
                nxt = node.children.get(self.cfg.wildcard)
            if nxt is None:
                return None
            node = nxt
            depth += 1
        return node

    def _insert_path(self, cluster: _Cluster) -> None:
        tokens = cluster.template
        count_key = str(len(tokens))
        node = self._root.children.setdefault(count_key, _TreeNode())
        if not tokens:
            node.cluster_ids = [cluster.cluster_id]
            return
        wc = self.cfg.wildcard
        depth = 1
        for tok in tokens:
            if depth >= self._prefix_depth or depth >= len(tokens):
                # leaf: drop ids of evicted clusters, then append
                node.cluster_ids = [
                    cid for cid in node.cluster_ids if cid in self._clusters
                ]
                node.cluster_ids.append(cluster.cluster_id)
                break
            child = node.children.get(tok)
            if child is not None:
                node = child
            elif self._has_digit(tok):
                node = node.children.setdefault(wc, _TreeNode())
            elif wc in node.children:
                if len(node.children) < self.cfg.max_children:
                    node = node.children.setdefault(tok, _TreeNode())
                else:
                    node = node.children[wc]
            else:
                # no wildcard child yet: reserve the last slot for it
                if len(node.children) + 1 < self.cfg.max_children:
                    node = node.children.setdefault(tok, _TreeNode())
                elif len(node.children) + 1 == self.cfg.max_children:
                    node = node.children.setdefault(wc, _TreeNode())
                else:
                    node = node.children[wc]
            depth += 1

    # ---------------- similarity ----------------

    def _similarity(
        self, template: tuple, tokens: list[str], include_params: bool
    ) -> tuple[float, int]:
        same = 0
        wildcards = 0
        wc = self.cfg.wildcard
        for t_tok, l_tok in zip(template, tokens):
            if t_tok == wc:
                wildcards += 1
            elif t_tok == l_tok:
                same += 1
        score = same + wildcards if include_params else same
        return float(score) / len(template), wildcards

    def _best_cluster(
        self,
        cluster_ids: list[int],
        tokens: list[str],
        sim_th: float,
        include_params: bool,
    ) -> _Cluster | None:
        best = None
        best_sim = -1.0
        best_wc = -1
        for cid in cluster_ids:
            c = self._get_cluster(cid)
            if c is None:
                continue
            sim, wcs = self._similarity(c.template, tokens, include_params)
            if sim > best_sim or (sim == best_sim and wcs > best_wc):
                best_sim, best_wc, best = sim, wcs, c
        if best is not None and best_sim >= sim_th:
            return best
        return None

    def _search(
        self, tokens: list[str], sim_th: float, include_params: bool
    ) -> _Cluster | None:
        leaf = self._leaf_for(tokens)
        if leaf is None:
            return None
        if not tokens:
            return self._get_cluster(leaf.cluster_ids[0]) if leaf.cluster_ids else None
        return self._best_cluster(leaf.cluster_ids, tokens, sim_th, include_params)

    # ---------------- public API ----------------

    def add_line(self, line: str) -> _Cluster:
        """Streaming fit of one line (ref drain.py:363-405)."""
        tokens = self.tokenize(line)
        hit = self._search(tokens, self.cfg.sim_th, include_params=False)
        if hit is None:
            self._next_id += 1
            cluster = _Cluster(tuple(tokens), self._next_id)
            self._put_cluster(cluster)
            self._insert_path(cluster)
            return cluster
        wc = self.cfg.wildcard
        merged = tuple(
            t if t == l or t == wc else wc for t, l in zip(hit.template, tokens)
        )
        hit.template = merged
        hit.size += 1
        self._get_cluster(hit.cluster_id, touch=True)
        return hit

    def add_template(self, template: str, size: int = 1) -> _Cluster:
        """Fit a pre-mined template (used when merging partition-local trees).

        Wildcards in the incoming template land on wildcard positions of the
        accepting cluster (or force generalization) exactly as a line would.
        """
        c = self.add_line(template)
        c.size += size - 1
        return c

    def insert_template(self, template: str, size: int = 1) -> _Cluster:
        """Insert ``template`` verbatim as a new cluster: no similarity
        search and no generalization, so a frozen match tree built this way
        depends only on its template set, not on insertion interactions."""
        self._next_id += 1
        c = _Cluster(tuple(self.tokenize(template)), self._next_id, size)
        self._put_cluster(c)
        self._insert_path(c)
        return c

    def fit(self, lines) -> "DrainTree":
        for line in lines:
            if isinstance(line, str):
                self.add_line(line)
        return self

    def match_line(self, line: str) -> str | None:
        """Frozen exact match (sim_th=1.0, wildcards count; ref drain.py:407-417).

        Falls back to a full scan of same-token-count clusters when the
        prefix-tree route misses (possible after cross-partition merges where
        an exact-token branch shadows the wildcard branch).
        """
        tokens = self.tokenize(line)
        hit = self._search(tokens, 1.0, include_params=True)
        if hit is None:
            n = len(tokens)
            candidates = [
                c.cluster_id for c in self._clusters.values() if len(c.template) == n
            ]
            hit = self._best_cluster(candidates, tokens, 1.0, include_params=True)
        return " ".join(hit.template) if hit is not None else None

    def parse(self, lines) -> list[str | None]:
        """Two-pass parse: fit all lines, then exact-match each (ref
        drain.py:428-438). Returns the template string per line."""
        self.fit(lines)
        return [self.match_line(line) for line in lines]
