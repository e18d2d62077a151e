"""Seeded log-corpus generator, shared by both log-path workloads.
Single-threaded and a pure function of its arguments: the same seed
gives byte-identical files, and the program under test only ever sees
the files written here.

The corpus parameters reproduce the repository's own daemon-throughput
corpus, `gen_lines` in `tools/bench_daemon.py` (its results are in
`SCALE_daemon_bench.json`), drawn at random from the seed instead of
round-robin:

- program mix: its 4 programs in equal shares, each with its fixed
  facility and severity (nginx local0.info, postgres daemon.err,
  cron cron.info, sshd auth.warning);
- rows the conf filter drops: the cron rows (25%), by
  `not facility(cron)`; no severity is below info, as in that corpus;
- pid-key cardinality (the correlation query's grouping key): 1024;
- secret tokens: every row carries one, so the rewrite masks every row;
- hosts: 32.

Arbitrary, because the log path's work does not depend on them: the
event-time spacing of the batch corpus (200 rows per second of event
time; no conf step looks at time or host) and the message layout
(`req=... code=... user=...`, the three fields the conf's csv-parser
splits; about as long as that corpus's messages).
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path

import numpy as np

# (program, facility, severity); cron is the facility the conf filter drops
PROGRAMS = (("nginx", 16, 6), ("postgres", 3, 3), ("cron", 9, 6), ("sshd", 4, 4))
PROGRAM_MIX = (0.25, 0.25, 0.25, 0.25)
CRON = 2  # index of the filtered program in PROGRAMS
PID_KEYS = 64  # distinct pids: the token-bucket key cardinality
SECRET_SHARE = 1.0  # rows carrying a secret the rewrite must mask
HOSTS = 32
EVENT_RATE = 200  # rows per second of event time in the batch corpus
MONTHS = "Jan Feb Mar Apr May Jun Jul Aug Sep Oct Nov Dec".split()
# event time starts here (no year in RFC3164; the parser assumes 2024)
EPOCH_2024_03_01 = 1709251200


@dataclass
class Corpus:
    lines: list[str]
    kept: int  # rows the conf filter lets through to the destination


def _stamp(sec: int) -> str:
    t = np.datetime64(EPOCH_2024_03_01 + sec, "s").astype(object)
    return f"{MONTHS[t.month - 1]} {t.day:2d} {t:%H:%M:%S}"


def log_corpus(rng: np.random.Generator, n: int, first_row: int = 0,
               event_sec: np.ndarray | None = None, suffix: str = "") -> Corpus:
    """`n` RFC3164 lines. `event_sec` gives each row's event time in
    seconds after the corpus epoch (default: EVENT_RATE rows per second);
    `suffix` is appended to every message (the stream generator uses it
    to stamp each line with its due time)."""
    prog = rng.choice(len(PROGRAMS), n, p=PROGRAM_MIX)
    fac = np.array([f for _, f, _ in PROGRAMS])[prog]
    sev = np.array([s for _, _, s in PROGRAMS])[prog]
    pri = (fac << 3) | sev
    pid = 1000 + rng.integers(0, PID_KEYS, n)
    host = rng.integers(0, HOSTS, n)
    code = 200 + 100 * rng.integers(0, 4, n)
    user = rng.integers(0, 500, n)
    secret = rng.random(n) < SECRET_SHARE
    tok = rng.integers(0, 1 << 32, n)
    if event_sec is None:
        event_sec = (first_row + np.arange(n)) // EVENT_RATE
    stamps = {s: _stamp(int(s)) for s in np.unique(event_sec)}
    names = [p for p, _, _ in PROGRAMS]
    lines = [
        f"<{pr}>{stamps[es]} host{h:02d} {names[pg]}[{pd}]: "
        f"req={first_row + i} code={c} user=u{u}"
        + (f" secret=tok{t:08x}" if s else "") + suffix
        for i, (pr, es, h, pg, pd, c, u, s, t) in enumerate(zip(
            pri.tolist(), event_sec.tolist(), host.tolist(), prog.tolist(),
            pid.tolist(), code.tolist(), user.tolist(), secret.tolist(),
            tok.tolist()))
    ]
    kept = int((prog != CRON).sum())
    return Corpus(lines, kept)


def write_corpus(seed: int, n: int, out_dir: Path, parts: int = 4) -> int:
    """Write an `n`-line corpus as `parts` files; return the number of
    rows the conf filter keeps."""
    rng = np.random.default_rng(seed)
    out_dir.mkdir(parents=True, exist_ok=True)
    kept = 0
    step = -(-n // parts)
    for p, lo in enumerate(range(0, n, step)):
        c = log_corpus(rng, min(step, n - lo), first_row=lo)
        (out_dir / f"part-{p:02d}.log").write_text("\n".join(c.lines) + "\n")
        kept += c.kept
    return kept

