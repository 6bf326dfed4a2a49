"""Seeded trade log for the trade_stream workload, and the static
recomputation its output is checked against.

The log is a directory of newline-delimited JSON envelopes in the shape
of graft.tools.StreamBench, ``{"data": [{"p", "s", "t", "v"}, ...]}``,
one file per stream partition, like Kafka partitions.

- Symbols are Zipf-skewed over ``SYMBOLS`` names.
- Event time rises along the log. ``graftlog`` budgets
  ``maxLinesPerTrigger`` across its files in name order, so the files
  split the log by time: with files that interleave in time, one batch
  would read a file far ahead of the others and mark the rest late.
- A share of lines is re-delivered byte for byte two lines later in the
  same file; the stream's dedup must drop those copies.
- A share of trades is made late on purpose: their event time lies
  ``LATE_BY_MS`` behind their position in the log. They sit at least
  ``LATE_FROM_LINE`` lines in, so the stream's watermark is established,
  and ``LATE_BY_MS`` exceeds the watermark delay plus two micro-batches
  of event time (late rows are filtered against the previous batch's
  watermark), so the stream must drop every one of them.
"""

import json
import os
import random

SYMBOLS = 50
ZIPF_S = 1.1
PER_LINE = 50
FILES = 4
BASE_MS = 1704067200000          # 2024-01-01T00:00:00Z
LINE_MS = 1000                   # event time per line
REDELIVER_SHARE = 0.01           # of lines
LATE_SHARE = 0.005               # of trades from LATE_FROM_LINE on
LATE_FROM_LINE = 300
LATE_BY_MS = 15 * 60 * 1000
MINUTE_MS = 60 * 1000


def generate(seed, lines):
    """Returns (files, late): ``files`` maps a file name to its lines,
    ``late`` is the number of trades made late. Deterministic in
    (seed, lines)."""
    rng = random.Random(seed)
    names = ["S%02d" % i for i in range(SYMBOLS)]
    cum, total = [], 0.0
    for i in range(SYMBOLS):
        total += 1.0 / (i + 1) ** ZIPF_S
        cum.append(total)
    base_price = [rng.uniform(20.0, 500.0) for _ in range(SYMBOLS)]
    late = 0
    envelopes = []
    for i in range(lines):
        line_ms = BASE_MS + i * LINE_MS
        trades = []
        has_late = False
        symbols = rng.choices(range(SYMBOLS), cum_weights=cum, k=PER_LINE)
        for j, k in enumerate(symbols):
            t = line_ms + j
            if i >= LATE_FROM_LINE and rng.random() < LATE_SHARE:
                t -= LATE_BY_MS
                has_late = True
                late += 1
            trades.append({
                "p": round(base_price[k] * rng.uniform(0.98, 1.02), 2),
                "s": names[k],
                "t": t,
                "v": float(rng.randint(1, 100)),
            })
        envelopes.append((json.dumps({"data": trades}, separators=(",", ":")),
                          has_late))
    per_file = -(-lines // FILES)
    files = {}
    for f in range(FILES):
        out = []
        pending = []  # (position, line) re-deliveries
        for pos, (line, has_late) in enumerate(envelopes[f * per_file:(f + 1) * per_file]):
            out.append(line)
            while pending and pending[0][0] <= pos:
                out.append(pending.pop(0)[1])
            if not has_late and rng.random() < REDELIVER_SHARE:
                pending.append((pos + 2, line))
        out.extend(line for _, line in pending)
        files["part-%d.log" % f] = out
    return files, late


def write(directory, files):
    os.makedirs(directory, exist_ok=True)
    for name, lines in files.items():
        with open(os.path.join(directory, name), "w") as f:
            f.write("".join(line + "\n" for line in lines))


def trade_count(files):
    return sum(len(json.loads(line)["data"]) for lines in files.values()
               for line in lines)


def expected_bars(files):
    """1-minute OHLCV bars over the deduplicated trades that were not
    made late, keyed by (symbol, window start ms). Open and close are
    the prices of the first and last trade by (time, price)."""
    seen = set()
    bars = {}
    for lines in files.values():
        for line in lines:
            data = json.loads(line)["data"]
            # a late trade lies LATE_BY_MS behind the rest of its line
            line_ms = max(tr["t"] for tr in data)
            for tr in data:
                key = (tr["s"], tr["t"], tr["p"], tr["v"])
                if key in seen:
                    continue
                seen.add(key)
                if tr["t"] < line_ms - LATE_BY_MS // 2:
                    continue
                w = tr["t"] // MINUTE_MS * MINUTE_MS
                b = bars.get((tr["s"], w))
                o = (tr["t"], tr["p"])
                if b is None:
                    bars[(tr["s"], w)] = [o, tr["p"], tr["p"], o, tr["v"]]
                else:
                    b[0] = min(b[0], o)
                    b[1] = max(b[1], tr["p"])
                    b[2] = min(b[2], tr["p"])
                    b[3] = max(b[3], o)
                    b[4] += tr["v"]
    return {k: (b[0][1], b[1], b[2], b[3][1], b[4]) for k, b in bars.items()}

