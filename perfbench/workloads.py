"""Seeded workload generators and the exact-answer oracles they are checked with.

Everything here is plain Python + numpy: the benchmark never calls the
package's own corpus generators, so a change to the package cannot change
the workload it is measured on. Shapes mirror the LongMemEval-style corpus
(questions with gold memory ids over topic vocabulary, salted with
per-question tokens) and the agent learning loop.
"""

from __future__ import annotations

import hashlib
import json
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

import numpy as np

#: the engine's clock for every workload: recency is computed at read
#: time, so a fixed anchor keeps scores (and the oracle) reproducible
NOW = datetime(2026, 1, 1, tzinfo=timezone.utc)
DIM = 64
TOP_K = 5
#: 4 projects x 2 agents
SCOPES = [(f"proj{p}", f"agent{a}") for p in range(4) for a in range(2)]
TOPICS = {
    "deploy": "deploy release rollout pipeline blue green switchover canary",
    "auth": "login oauth token refresh session cookie password identity",
    "billing": "invoice payment charge subscription refund credit card ledger",
    "search": "index query ranking relevance retrieval recall precision shard",
    "infra": "cluster node executor shuffle partition memory spill disk",
    "ui": "button form modal layout render component state props",
}
#: LongMemEval question types; multi-session questions carry 6 gold
#: memories, so their R@5 is 5/6 even when ranking is perfect
QUESTION_TYPES = [
    "multi-session",
    "single-session-user",
    "knowledge-update",
    "temporal-reasoning",
]
ROWS_PER_QUESTION = 10


def embed(text: str, dim: int = DIM) -> np.ndarray:
    """Bag-of-tokens md5 hash embedding, L2-normalized (the engine's
    HashEmbedder algorithm, restated so the oracle is independent)."""
    vec = np.zeros(dim)
    for tok in text.lower().split():
        h = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")
        vec[h % dim] += 1.0 if (h >> 63) & 1 == 0 else -1.0
    n = float(np.sqrt((vec * vec).sum()))
    if n == 0.0:
        vec[0], n = 1.0, 1.0
    return vec / n


@dataclass
class Question:
    qid: str
    scope: int
    qtype: str
    text: str
    gold: tuple[str, ...]


@dataclass
class Store:
    """Generated store rows per table (column lists) plus the questions."""

    tables: dict[str, dict[str, list]]
    questions: list[Question]
    #: per scope: (dk ids, float32 dk embedding matrix) for the oracle
    dk_by_scope: list[tuple[list[str], np.ndarray]] = field(default_factory=list)

    def rows(self) -> int:
        return sum(len(cols["id"]) for cols in self.tables.values())


def _rand_words(rng: random.Random, topic: str, n: int) -> list[str]:
    return rng.sample(TOPICS[topic].split(), n)


def generate_store(seed: int, n_dk: int) -> Store:
    """LongMemEval-shaped store over 8 (project, agent) scopes.

    Each question owns ROWS_PER_QUESTION domain_knowledge rows: its gold
    memories (every question token plus one of their own, cosine ~0.9
    to the question, far above any sibling's ~0.4) and distractors from
    other topics, so exact R@5 is 1 for single-gold questions and 5/6 for
    multi-session ones. Heuristics, outcomes and anti-patterns
    (n_dk/8, n_dk/8, n_dk/16 rows) populate the other scored types. Every
    domain_knowledge row has the same confidence and verification time,
    so the exact ranking reduces to cosine order (see ExactOracle)."""
    rng = random.Random(seed)
    topics = list(TOPICS)
    dk = {c: [] for c in ("id", "agent", "project_id", "domain", "fact", "embedding")}
    questions: list[Question] = []
    per_scope = n_dk // len(SCOPES)
    n_q = per_scope // ROWS_PER_QUESTION
    for s, (proj, agent) in enumerate(SCOPES):
        for qi in range(n_q):
            topic = topics[(qi + s) % len(topics)]
            qtype = QUESTION_TYPES[qi % len(QUESTION_TYPES)]
            n_gold = 6 if qtype == "multi-session" else 1
            salt = [f"s{s}q{qi}t{j}" for j in range(3)]
            qwords = _rand_words(rng, topic, 2)
            gold = []
            for g in range(ROWS_PER_QUESTION):
                rid = f"dk_{s}_{qi:04d}_{g}"
                if g < n_gold:
                    text = " ".join(salt + qwords + [f"s{s}q{qi}d{g}"])
                    gold.append(rid)
                else:
                    other = rng.choice([t for t in topics if t != topic])
                    text = " ".join(
                        _rand_words(rng, other, 5) + [f"s{s}q{qi}n{g}"]
                    )
                for c, v in zip(
                    ("id", "agent", "project_id", "domain", "fact"),
                    (rid, agent, proj, topic, text),
                ):
                    dk[c].append(v)
                dk["embedding"].append(embed(text))
            questions.append(
                Question(
                    f"q_{s}_{qi:04d}", s, qtype,
                    " ".join(qwords + salt), tuple(gold),
                )
            )
    heur = {c: [] for c in ("id", "agent", "project_id", "condition", "strategy",
                            "occurrence_count", "success_count", "embedding")}
    outc = {c: [] for c in ("id", "agent", "project_id", "task_type",
                            "task_description", "success", "strategy_used",
                            "error_message", "embedding", "days")}
    anti = {c: [] for c in ("id", "agent", "project_id", "pattern", "why_bad",
                            "occurrence_count", "embedding", "days")}
    for i in range(n_dk // 8):
        proj, agent = SCOPES[i % len(SCOPES)]
        topic = topics[i % len(topics)]
        cond = f"task type: {topic}"
        strat = " ".join(_rand_words(rng, topic, 4) + [f"h{i}"])
        occ = rng.randint(3, 12)
        for c, v in zip(
            ("id", "agent", "project_id", "condition", "strategy",
             "occurrence_count", "success_count", "embedding"),
            (f"heur_g{i:05d}", agent, proj, cond, strat, occ,
             rng.randint(1, occ), embed(f"{cond} {strat}")),
        ):
            heur[c].append(v)
        ok = rng.random() < 0.7
        task = " ".join(_rand_words(rng, topic, 4) + [f"o{i}"])
        err = None if ok else f"{topic} step failed o{i}"
        for c, v in zip(
            ("id", "agent", "project_id", "task_type", "task_description",
             "success", "strategy_used", "error_message", "embedding", "days"),
            (f"out_g{i:05d}", agent, proj, "general", task, ok,
             strat, err, embed(f"{task} {strat}"), rng.randint(0, 60)),
        ):
            outc[c].append(v)
    for i in range(n_dk // 16):
        proj, agent = SCOPES[i % len(SCOPES)]
        # unique tokens only: a stored pattern must never trip the
        # write guard for the learn workload's outcomes
        pattern = f"apz{i}a apz{i}b apz{i}c"
        why = f"apz{i}w failure"
        for c, v in zip(
            ("id", "agent", "project_id", "pattern", "why_bad",
             "occurrence_count", "embedding", "days"),
            (f"anti_g{i:05d}", agent, proj, pattern, why, rng.randint(2, 9),
             embed(f"{pattern} {why}"), rng.randint(0, 60)),
        ):
            anti[c].append(v)
    dk_by_scope = []
    for s in range(len(SCOPES)):
        lo, hi = s * n_q * ROWS_PER_QUESTION, (s + 1) * n_q * ROWS_PER_QUESTION
        dk_by_scope.append(
            (dk["id"][lo:hi], np.asarray(dk["embedding"][lo:hi], dtype=np.float32))
        )
    return Store(
        {"domain_knowledge": dk, "heuristics": heur, "outcomes": outc,
         "anti_patterns": anti},
        questions,
        dk_by_scope,
    )


def store_frames(spark, store: Store) -> dict:
    """One Spark DataFrame per table, through the pandas/Arrow path."""
    return {table: table_frame(spark, table, cols) for table, cols in store.tables.items()}


def table_frame(spark, table: str, cols: dict[str, list]):
    """Spark DataFrame of generated column lists, filling the columns
    the generators leave constant."""
    import pandas as pd

    from alma_memory_spark import schemas

    n = len(cols["id"])
    pdf = pd.DataFrame({k: v for k, v in cols.items() if k not in ("embedding", "days")})
    pdf["embedding"] = [e.astype(np.float32) for e in cols["embedding"]]
    pdf["metadata"] = [{} for _ in range(n)]
    pdf["verification_status"] = None
    days = cols.get("days", [0] * n)
    stamp = [NOW - timedelta(days=d) for d in days]
    if table == "domain_knowledge":
        pdf["source"] = "generated"
        pdf["confidence"] = 0.9
        pdf["last_verified"] = stamp
    elif table == "heuristics":
        pdf["confidence"] = [
            min(1.0, s / o) for s, o in zip(cols["success_count"], cols["occurrence_count"])
        ]
        pdf["last_validated"] = stamp
        pdf["created_at"] = stamp
    elif table == "outcomes":
        pdf["duration_ms"] = 1000
        pdf["user_feedback"] = None
        pdf["timestamp"] = stamp
    else:
        pdf["better_alternative"] = None
        pdf["last_seen"] = stamp
        pdf["created_at"] = stamp
    schema = schemas.ALL_TABLES[table]
    return spark.createDataFrame(pdf[[f.name for f in schema.fields]], schema)


class QuestionStream:
    """Seeded question order per scope. The k-th question drawn from a
    scope has type k % 4, so the recall of a run depends on how many
    questions it served, not on which ones the seed picked."""

    def __init__(self, store: Store, seed: int):
        self._rng = random.Random(seed * 7919 + 1)
        self._pools = [
            [[q for q in store.questions if q.scope == s and q.qtype == t]
             for t in QUESTION_TYPES]
            for s in range(len(SCOPES))
        ]
        self._queues = [[[] for _ in QUESTION_TYPES] for _ in SCOPES]
        self._drawn = [0] * len(SCOPES)

    def next(self, scope: int) -> Question:
        """The scope's next question; a type whose questions are all
        drawn starts over in a fresh order (only a run far faster than
        the store is sized for gets there)."""
        k = self._drawn[scope]
        self._drawn[scope] += 1
        queue = self._queues[scope][k % len(QUESTION_TYPES)]
        if not queue:
            queue.extend(self._pools[scope][k % len(QUESTION_TYPES)])
            self._rng.shuffle(queue)
        return queue.pop()


class ExactOracle:
    """Exact default-mode top-5 domain_knowledge ids per question.

    With constant confidence, success and recency on domain_knowledge,
    the composite score is monotone in cosine similarity, so the exact
    answer is the 5 most similar in-scope rows. Ties within 1e-9 at the
    cut may be broken either way."""

    EPS = 1e-9

    def __init__(self, store: Store):
        self.store = store
        self._ids = [ids for ids, _ in store.dk_by_scope]
        self._mats = [m.astype(np.float64) for _, m in store.dk_by_scope]
        self._pos = [{r: i for i, r in enumerate(ids)} for ids in self._ids]

    def sims(self, scope: int, text: str) -> np.ndarray:
        m = self._mats[scope]
        norms = np.sqrt((m * m).sum(axis=1))
        q = embed(text)
        return (m @ q) / np.where(norms > 0, norms, 1.0)

    def check(self, q: Question, rows: list[dict], exact: bool) -> str | None:
        """None when `rows` (a slice's domain_knowledge) is a correct
        answer: in scope, at most 5, similarities equal to the oracle's,
        ranked by score; `exact` additionally requires the true top-5."""
        sims = self.sims(q.scope, q.text)
        pos = self._pos[q.scope]
        if len(rows) > TOP_K:
            return f"{len(rows)} rows > top_k"
        got = [r.get("id") for r in rows]
        for r in rows:
            i = pos.get(r.get("id"))
            if i is None:
                return f"row {r.get('id')} not in scope {q.scope}"
            if abs(float(r.get("similarity")) - sims[i]) > 1e-6:
                return f"similarity {r.get('similarity')} != {sims[i]} for {r.get('id')}"
        scores = [float(r.get("score")) for r in rows]
        if scores != sorted(scores, reverse=True):
            return "rows not ranked by score"
        if not exact:
            return None
        order = np.sort(sims)[::-1]
        kth = order[TOP_K - 1]
        ids = self._ids[q.scope]
        need = {ids[i] for i in np.nonzero(sims > kth + self.EPS)[0]}
        allow = {ids[i] for i in np.nonzero(sims >= kth - self.EPS)[0]}
        if len(got) != TOP_K or not need <= set(got) <= allow:
            return f"top-5 {got} != oracle"
        return None

    @staticmethod
    def recall(q: Question, rows: list[dict]) -> float:
        got = {r.get("id") for r in rows[:TOP_K]}
        return len(got & set(q.gold)) / len(q.gold)


# ---------------------------------------------------------------------
# learn_mix: the agent session's outcome sequence
# ---------------------------------------------------------------------

#: one task type, so a run of a few learns already forms heuristics
#: and anti-patterns; two repeated strategies, so heuristics form from reuse
LEARN_TASK_TYPE = "lmform"
_STRATEGIES = (
    "fill fields wait visible assert submit check banner reload verify",
    "stub backend mock response render page snapshot compare diff pass",
)


@dataclass
class Outcome:
    task: str
    task_type: str
    success: bool
    strategy: str
    error: str | None


#: an earlier success of the first strategy, stored in the learn scope
#: before the session starts: with it the session's second and third
#: outcomes (successes) form a heuristic and its fourth (the second
#: failure) an anti-pattern, so one warm-up learn leaves both inside a
#: one-cycle timed loop
PRIOR_OUTCOME = Outcome(f"{LEARN_TASK_TYPE} job-prior", LEARN_TASK_TYPE, True, _STRATEGIES[0], None)


def add_prior_outcome(store: Store, scope: int) -> None:
    """Append PRIOR_OUTCOME to the store's outcomes, in `scope`."""
    proj, agent = SCOPES[scope]
    o = PRIOR_OUTCOME
    cols = store.tables["outcomes"]
    for c, v in zip(
        ("id", "agent", "project_id", "task_type", "task_description", "success",
         "strategy_used", "error_message", "embedding", "days"),
        ("out_prior", agent, proj, o.task_type, o.task, o.success, o.strategy, o.error,
         embed(f"{o.task} {o.strategy}"), 1),
    ):
        cols[c].append(v)


def learn_sequence(seed: int, n: int) -> list[Outcome]:
    """The session's outcomes. The shape is the same for every seed (the
    first outcome of each three fails, every fifth success uses the
    second strategy), so runs differ in text, not in work; the seed
    draws the failures' tokens. Failures share one error text (so
    anti-patterns form) and carry a strategy of tokens unique to them:
    the write guard blocks a learn whose text holds >=45% of a stored
    anti-pattern's tokens, and a failure's strategy becomes that
    anti-pattern's pattern."""
    rng = random.Random(seed * 104729 + 3)
    tt = LEARN_TASK_TYPE
    out: list[Outcome] = []
    for k in range(n):
        task = f"{tt} job{k}"
        if k % 3 == 0:
            tag = f"{rng.getrandbits(40):010x}"
            strat = " ".join(f"fx{tag}{c}" for c in "abcdefghij")
            out.append(Outcome(task, tt, False, strat,
                               f"{tt} failed: upstream timeout waiting for response"))
        else:
            out.append(Outcome(task, tt, True, _STRATEGIES[1 if k % 5 == 4 else 0], None))
    return out


def check_learn_clusters(seq: list[Outcome]) -> None:
    """Assert the sequence's similarity structure is far from the
    engine's 0.75 strategy-cluster threshold: same-strategy outcomes
    must cluster and nothing else may, or the expected counts below
    would not be exact."""
    vecs = [embed(f"{o.task} {o.strategy}") for o in seq]
    for i in range(len(seq)):
        for j in range(i):
            if seq[i].task_type != seq[j].task_type:
                continue
            c = float(vecs[i] @ vecs[j])
            same = seq[i].success and seq[j].success and seq[i].strategy == seq[j].strategy
            if (same and c < 0.8) or (not same and c > 0.7):
                raise AssertionError(f"outcomes {j},{i}: cosine {c:.3f} too close to 0.75")


def expected_learning(seq: list[Outcome]) -> dict[str, int]:
    """Distinct heuristics and anti-patterns the engine must form after
    learning `seq`: a heuristic per (task type, strategy) with >=3
    successes (confidence 1.0 * (0.5 + 3/40) >= 0.5), an anti-pattern once
    two failures share the error text."""
    succ: dict[tuple, int] = {}
    fails: dict[str, int] = {}
    for o in seq:
        if o.success:
            succ[(o.task_type, o.strategy)] = succ.get((o.task_type, o.strategy), 0) + 1
        else:
            fails[o.task_type] = fails.get(o.task_type, 0) + 1
    return {
        "heuristics_formed": sum(1 for v in succ.values() if v >= 3),
        "anti_patterns_formed": sum(1 for v in fails.values() if v >= 2),
    }


def digest(obj) -> str:
    """Stable short digest of generated inputs (same seed, same digest)."""
    h = hashlib.sha256(json.dumps(obj, sort_keys=True, default=str).encode())
    return h.hexdigest()[:16]


def store_digest(store: Store) -> str:
    return digest(
        {t: {c: v for c, v in cols.items() if c != "embedding"} for t, cols in store.tables.items()}
    )
