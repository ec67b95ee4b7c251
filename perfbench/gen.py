"""Seeded, single-process input generators with per-item ground truth.

Every generator is a pure function of ``(seed, size)``: the same pair
gives byte-identical files and the same expected outcomes. The program
under test only ever sees the files; the ground truth stays here.

Log workloads produce JSONL lines plus, per line, its category and the
outcome the reference semantics fix for it (``operators/lognorm.py``
docstring): the normalized record the file sink must write, or the DLQ
reason it must route to. ``LogTruth`` aggregates those outcomes into the
counters ``cli.run_batch`` reports.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import re
from collections import Counter
from dataclasses import dataclass, field

# ---------------------------------------------------------------------------
# shared pools
# ---------------------------------------------------------------------------

SERVICES = ("orders", "payments", "gateway", "auth", "search", "catalog",
            "cart", "billing", "notify", "users", "inventory", "shipping")
NAMESPACES = ("prod", "staging", "edge", "batch", "infra")
NODES = tuple(f"ip-10-0-{i // 4}-{10 + i}" for i in range(8))
WORDS = ("request", "started", "finished", "slow", "upstream", "timeout",
         "cache", "hit", "miss", "retry", "payment", "declined", "user",
         "login", "failed", "connection", "reset", "queue", "full", "ok")
RESIDUAL_KEYS = (
    "http_path", "http_method", "status", "latency_ms", "bytes_out",
    "bytes_in", "user_id", "region", "zone", "ctx", "tags", "retry",
    "cached", "amount", "currency", "client_ip", "route", "attempt",
    "shard", "build", "feature", "cpu_pct", "mem_mb", "headers",
    "labels", "span_id", "tenant", "plan", "sku", "ratio",
)
PII_KEYS = ("user_email", "token")
EPOCH = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)

ERR_MISSING_TS = "missing timestamp: expected ts/time in RFC3339"
ERR_MISSING_MSG = "missing message: expected msg/message"
ERR_MISSING_LEVEL = "missing level: expected level/severity"
ERR_JSON = "json parse failed"


def _compact(v) -> str:
    return json.dumps(v, separators=(",", ":"), sort_keys=True, ensure_ascii=False)


def rendered_field(v):
    """A residual field as the sink renders it: JSON strings unquoted,
    null as null, everything else as compact JSON (nested object keys
    sorted, as the engine's variant encoding stores them)."""
    if v is None or isinstance(v, str):
        return v
    return _compact(v)


def _money(rng: random.Random) -> float:
    # two decimals, last digit non-zero: renders identically everywhere
    return (rng.randrange(1, 10000) * 10 + rng.randrange(1, 10)) / 100


def _residual_value(rng: random.Random, key: str):
    kind = rng.randrange(8)
    if kind == 0:
        return rng.randrange(0, 100000)
    if kind == 1:
        return _money(rng)
    if kind == 2:
        return rng.random() < 0.5
    if kind == 3:
        return None
    if kind == 4:
        return {"id": rng.randrange(1000), "name": rng.choice(WORDS),
                "flags": [rng.choice(WORDS), rng.randrange(9)]}
    if kind == 5:
        return [rng.randrange(100) for _ in range(rng.randrange(1, 5))]
    return f"{key}-{rng.choice(WORDS)}-{rng.randrange(10000)}"


def _ts(rng: random.Random, offsets: bool) -> str:
    """An RFC3339 timestamp with 0, 3 or 6 fraction digits; with
    `offsets`, 30% carry a non-UTC offset."""
    t = EPOCH + dt.timedelta(seconds=rng.randrange(30 * 86400),
                             microseconds=rng.randrange(1_000_000))
    frac_digits = rng.choice((0, 3, 6))
    if frac_digits == 0:
        t = t.replace(microsecond=0)
    elif frac_digits == 3:
        t = t.replace(microsecond=t.microsecond // 1000 * 1000)
    zone = "Z"
    local = t
    if offsets and rng.random() < 0.3:
        minutes = rng.choice((-300, -60, 60, 120, 330))
        local = t.astimezone(dt.timezone(dt.timedelta(minutes=minutes)))
        sign = "+" if minutes >= 0 else "-"
        zone = f"{sign}{abs(minutes) // 60:02d}:{abs(minutes) % 60:02d}"
    raw = local.strftime("%Y-%m-%dT%H:%M:%S")
    if frac_digits:
        raw += "." + f"{local.microsecond:06d}"[:frac_digits]
    return raw + zone


def _pad(rng: random.Random, s: str) -> str:
    return rng.choice(("", " ", "  ", "\t")) + s + rng.choice(("", " ", "\t "))


# ---------------------------------------------------------------------------
# log lines
# ---------------------------------------------------------------------------


@dataclass
class LogTruth:
    """Expected outcome of a set of lines under one pipeline config."""

    total_lines: int = 0
    json_parsed: int = 0
    json_failed: int = 0
    normalized_ok: int = 0
    normalized_failed: int = 0
    written_ok: int = 0
    filtered_level: int = 0
    by_level: Counter = field(default_factory=Counter)
    by_service: Counter = field(default_factory=Counter)
    categories: Counter = field(default_factory=Counter)
    #: expected written records / DLQ records, as canonical JSON strings
    written: Counter = field(default_factory=Counter)
    dlq: Counter = field(default_factory=Counter)

    def counters(self) -> dict[str, int]:
        return {
            "total_lines": self.total_lines,
            "json_parsed": self.json_parsed,
            "json_failed": self.json_failed,
            "normalized_ok": self.normalized_ok,
            "normalized_failed": self.normalized_failed,
            "written_ok": self.written_ok,
            "filtered_by_level": self.filtered_level,
        }


def canonical(rec) -> str:
    """Order-insensitive identity of a JSON value (object key order is
    not significant)."""
    return json.dumps(rec, sort_keys=True, ensure_ascii=False)


@dataclass(frozen=True)
class LogSpec:
    """One log workload: the share of dirty-shaped lines and the
    pipeline config it runs under (allowlist; redaction keys are the
    config default)."""

    name: str
    filter_levels: tuple[str, ...]
    dirty_share: float
    redact_keys: tuple[str, ...] = PII_KEYS


#: the batch mix: mostly wide lines, a share of alias/padded/failing ones
MIXED = LogSpec("mixed", ("INFO", "WARN", "ERROR"), dirty_share=0.15)
#: the streaming input: wide lines only
WIDE = LogSpec("wide", ("INFO", "WARN", "ERROR"), dirty_share=0.0)


def _wide_line(rng: random.Random) -> tuple[str, str, dict | None]:
    """(category, line, parsed-object-or-None) for the wide shape."""
    raw_ts = _ts(rng, offsets=True)
    level = rng.choices(("DEBUG", "INFO", "WARN", "ERROR"), (15, 55, 20, 10))[0]
    if rng.random() < 0.1:
        level = level.lower()
    svc = rng.choice(SERVICES)
    obj = {
        "ts": raw_ts,
        "level": level,
        "msg": " ".join(rng.choice(WORDS) for _ in range(rng.randrange(2, 9))),
        "service": svc,
        "namespace": rng.choice(NAMESPACES),
        "pod": f"{svc}-{rng.randrange(16 ** 6):06x}",
        "node": rng.choice(NODES),
        "trace_id": f"{rng.getrandbits(64):016x}",
    }
    for k in rng.sample(RESIDUAL_KEYS, rng.randrange(12, 21)):
        obj[k] = _residual_value(rng, k)
    if rng.random() < 0.4:
        obj["user_email"] = f"u{rng.randrange(10 ** 6)}@example.com"
    if rng.random() < 0.2:
        obj["token"] = f"sk-{rng.getrandbits(48):012x}"
    category = "ok"
    if rng.random() < 0.005:
        obj["ts"] = obj["ts"].replace("T", " ")
        category = "bad_ts"
    return category, json.dumps(obj, ensure_ascii=False), obj


_ALIAS = {
    "ts": ("ts", "time"),
    "level": ("level", "severity"),
    "msg": ("msg", "message"),
    "service": ("service", "app", "component"),
    "trace_id": ("trace_id", "trace"),
}


def _dirty_line(rng: random.Random) -> tuple[str, str, dict | None]:
    """(category, line, parsed-object-or-None) for the dirty shape."""
    category = rng.choices(
        ("ok", "malformed", "non_object", "bad_ts", "missing_ts",
         "missing_msg", "missing_level", "blank"),
        (79, 5, 3, 4, 3, 2.5, 2.5, 1),
    )[0]
    if category == "blank":
        return category, rng.choice(("", "   ", "\t")), None
    if category == "non_object":
        v = rng.choice(([1, 2, "x"], 42, "just a string", True, 3.5))
        return category, json.dumps(v), None
    raw_ts = _ts(rng, offsets=False)
    level = rng.choices(("debug", "info", "Warn", "ERROR", "error"), (30, 46, 16, 4, 4))[0]
    values = {
        "ts": raw_ts,
        "level": level,
        "msg": " ".join(rng.choice(WORDS) for _ in range(rng.randrange(2, 6))),
        "service": rng.choice(SERVICES),
        "trace_id": f"{rng.getrandbits(32):08x}",
    }
    if category == "bad_ts":
        values["ts"] = rng.choice((
            raw_ts[:19],                        # no zone
            raw_ts.replace("T", " "),           # space separator
            "2025-13-01T10:00:00Z",             # month 13
            "yesterday",
            str(rng.randrange(1_600_000_000, 1_700_000_000)),
        ))
    obj: dict = {}
    for canon_key, aliases in _ALIAS.items():
        if category == f"missing_{canon_key}":
            if rng.random() < 0.5:
                obj[aliases[0]] = rng.choice(("", "   ", 7))
            continue
        key = rng.choice(aliases)
        if key != aliases[0] and rng.random() < 0.3:
            # primary present but unusable: empty, blank or non-string
            obj[aliases[0]] = rng.choice(("", " \t", 12, None))
        obj[key] = _pad(rng, values[canon_key])
    svc = values["service"]
    if rng.random() < 0.6:
        block = {"namespace_name": rng.choice(NAMESPACES),
                 "pod_name": f"{svc}-{rng.randrange(100)}",
                 "container": rng.choice(("app", "proxy", "sidecar"))}
        if rng.random() < 0.7:
            block["node_name"] = rng.choice(NODES)
        obj["kubernetes"] = block
        if rng.random() < 0.2:
            obj["namespace"] = rng.choice(NAMESPACES)  # overrides the block
    else:
        obj["namespace"] = rng.choice(NAMESPACES)
        obj["pod"] = f"{svc}-{rng.randrange(100)}"
    if rng.random() < 0.5:
        obj["hostname"] = _pad(rng, f"host-{rng.randrange(50)}")
    elif rng.random() < 0.3:
        obj["node"] = _pad(rng, rng.choice(NODES))
    for k in rng.sample(RESIDUAL_KEYS, rng.randrange(0, 4)):
        obj[k] = _residual_value(rng, k)
    if rng.random() < 0.1:
        obj["user_email"] = f"u{rng.randrange(10 ** 6)}@example.com"
    keys = list(obj)
    rng.shuffle(keys)
    obj = {k: obj[k] for k in keys}
    line = json.dumps(obj, ensure_ascii=False)
    if category == "malformed":
        return category, line[: rng.randrange(1, len(line) - 1)], None
    return category, line, obj


def _first_str(obj: dict, keys: tuple[str, ...]) -> str:
    """First candidate that is a string non-empty after trimming."""
    for k in keys:
        v = obj.get(k)
        if isinstance(v, str) and v.strip(" \t"):
            return v.strip(" \t")
    return ""


_RFC3339 = re.compile(r"\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(\.\d{1,6})?(Z|[+-]\d{2}:\d{2})")


def _utc_nano(ts: str) -> str | None:
    """RFC3339 text → expected RFC3339Nano UTC rendering, None when the
    reference rejects it."""
    if not _RFC3339.fullmatch(ts):
        return None
    try:
        t = dt.datetime.fromisoformat(ts.replace("Z", "+00:00"))
    except ValueError:
        return None
    t = t.astimezone(dt.timezone.utc)
    frac = f".{t.microsecond:06d}".rstrip("0").rstrip(".")
    return t.strftime("%Y-%m-%dT%H:%M:%S") + frac + "Z"


def expected_outcome(obj: dict, spec: LogSpec) -> tuple[dict | None, str | None]:
    """(normalized record or None, normalize error or None) for a parsed
    JSON object — the reference normalize/filter/redact semantics, for
    the value shapes these generators emit (ASCII space/tab padding)."""
    ts_str = _first_str(obj, _ALIAS["ts"])
    level_raw = _first_str(obj, _ALIAS["level"])
    message = _first_str(obj, _ALIAS["msg"])
    if not ts_str:
        return None, ERR_MISSING_TS
    ts = _utc_nano(ts_str)
    if ts is None:
        return None, f'invalid timestamp "{ts_str}": expected RFC3339'
    if not message:
        return None, ERR_MISSING_MSG
    if not level_raw:
        return None, ERR_MISSING_LEVEL
    k8s = obj.get("kubernetes") if isinstance(obj.get("kubernetes"), dict) else {}

    def k8s_str(sub: str):
        v = k8s.get(sub)
        return v if isinstance(v, str) else None

    ns = obj["namespace"] if isinstance(obj.get("namespace"), str) else k8s_str("namespace_name")
    pod = obj["pod"] if isinstance(obj.get("pod"), str) else k8s_str("pod_name")
    node = obj["node"].strip(" \t") if isinstance(obj.get("node"), str) else k8s_str("node_name")
    if not node:
        node = _first_str(obj, ("hostname",))
    fields = {
        k: rendered_field(v)
        for k, v in obj.items()
        if k not in EXCLUDED_KEYS and k not in spec.redact_keys
    }
    return {
        "TS": ts,
        "Level": level_raw.upper(),
        "Service": _first_str(obj, _ALIAS["service"]),
        "Namespace": ns or "",
        "Pod": pod or "",
        "Node": node or "",
        "Message": message,
        "TraceID": _first_str(obj, _ALIAS["trace_id"]),
        "Fields": fields,
    }, None


EXCLUDED_KEYS = frozenset((
    "ts", "time", "hostname", "level", "severity", "msg", "message",
    "service", "app", "component", "kubernetes", "trace_id", "trace",
    "namespace", "pod", "node",
))


@dataclass(frozen=True)
class PoolItem:
    """One distinct line and its fixed outcome."""

    line: str
    category: str
    #: canonical written record, canonical DLQ record (at most one set);
    #: both None for blank lines and filtered records
    written: str | None
    dlq: str | None
    level: str | None       # normalized level of normalize-OK lines
    service: str | None
    json_ok: bool
    filtered: bool


def log_pool(spec: LogSpec, seed: int, n_unique: int) -> list[PoolItem]:
    """n_unique distinct lines of `spec`'s mix, each with its outcome."""
    rng = random.Random(f"{spec.name}:{seed}")
    allow = set(spec.filter_levels)
    pool = []
    for _ in range(n_unique):
        make = _dirty_line if rng.random() < spec.dirty_share else _wide_line
        category, line, obj = make(rng)
        pool.append(_outcome(line, category, obj, spec, allow))
    return pool


def _outcome(line: str, category: str, obj, spec: LogSpec, allow: set) -> PoolItem:
    if not line.strip(" \t"):
        return PoolItem(line, category, None, None, None, None, False, False)
    if obj is None:
        dlq = canonical({"record": line, "reason": ERR_JSON})
        return PoolItem(line, category, None, dlq, None, None, False, False)
    rec, err = expected_outcome(obj, spec)
    if err is not None:
        dlq = canonical({"record": line, "reason": err})
        return PoolItem(line, category, None, dlq, None, None, True, False)
    filtered = bool(allow) and rec["Level"] not in allow
    written = None if filtered else canonical(rec)
    return PoolItem(line, category, written, None, rec["Level"], rec["Service"], True, filtered)


def sample_truth(pool: list[PoolItem], picks: list[int]) -> LogTruth:
    """Aggregate the outcomes of the lines pool[i] for i in picks."""
    truth = LogTruth()
    for i, n in Counter(picks).items():
        item = pool[i]
        truth.categories[item.category] += n
        if item.category == "blank":
            continue
        truth.total_lines += n
        if not item.json_ok:
            truth.json_failed += n
            truth.dlq[item.dlq] += n
            continue
        truth.json_parsed += n
        if item.dlq is not None:
            truth.normalized_failed += n
            truth.dlq[item.dlq] += n
            continue
        truth.normalized_ok += n
        truth.by_level[item.level] += n
        if item.service:
            truth.by_service[item.service] += n
        if item.filtered:
            truth.filtered_level += n
        else:
            truth.written_ok += n
            truth.written[item.written] += n
    return truth


def sample_picks(pool_size: int, seed: int, n: int) -> list[int]:
    rng = random.Random(f"picks:{seed}:{n}")
    return [rng.randrange(pool_size) for _ in range(n)]


def split_uneven(lines: list[str], seed: int, n_files: int) -> list[list[str]]:
    """Split lines into at most n_files contiguous chunks of uneven
    (seeded, roughly log-normal) sizes; empty chunks are dropped."""
    rng = random.Random(f"split:{seed}")
    weights = [rng.lognormvariate(0, 1) for _ in range(n_files)]
    total = sum(weights)
    cuts, acc = [], 0.0
    for w in weights[:-1]:
        acc += w
        cuts.append(round(acc / total * len(lines)))
    bounds = [0] + cuts + [len(lines)]
    chunks = [lines[a:b] for a, b in zip(bounds, bounds[1:])]
    return [c for c in chunks if c]


def write_jsonl_dir(path: str, chunks: list[list[str]]) -> int:
    """Write chunks as part files; returns bytes written."""
    os.makedirs(path, exist_ok=True)
    n = 0
    for i, chunk in enumerate(chunks):
        data = ("\n".join(chunk) + "\n").encode("utf-8")
        with open(os.path.join(path, f"part-{i:04d}.jsonl"), "wb") as fh:
            fh.write(data)
        n += len(data)
    return n
