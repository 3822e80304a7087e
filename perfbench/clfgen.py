"""Seeded Common Log Format input for the CLF workloads, and its tally.

The log is written as a directory of equal-sized text files. Timestamps run
through August 1995 at -0400; they never decrease from one file to the next
and are shuffled within each file. One file boundary sits on the
epoch-aligned 31-day window edge (1995-08-20 00:00 UTC), so a replay that
takes whole files per micro-batch never mixes the two windows in one batch
and never hands a watermarked query a late row. Hosts are drawn from a
Zipf-skewed universe of tens of thousands of names; a few percent of the
lines are dead letters of each of the parser's four near-miss kinds.

The tally is computed from the generator's own arrays, without Spark and
without parsing the text: it is the answer the benchmark checks the
program's outputs against.
"""
import json
import os

import numpy as np

DAY = 86400
START = 807249600  # 1995-08-01 00:00 -0400
END = 809928000    # 1995-09-01 00:00 -0400 (exclusive)
EDGE = 808876800   # 1995-08-20 00:00 UTC, a 31-day window edge since the epoch
WINDOW = 31 * DAY
TZ_OFFSET = -4 * 3600

HOSTS = 60000
ZIPF_S = 1.0
DEAD_SHARE = 0.01  # per near-miss kind; four kinds

# The four near-miss kinds the parser must reject (SURVEY.md section 2.3).
DEAD_KINDS = ("http11", "user", "plus_tz", "spaced_path")


def _host_names(rng):
    """HOSTS distinct names, a mix of DNS names and dotted quads."""
    names = set()
    out = []
    tlds = ("com", "net", "edu", "gov", "org", "de", "jp")
    while len(out) < HOSTS:
        if rng.random() < 0.3:
            n = "%d.%d.%d.%d" % tuple(rng.integers(1, 255, 4))
        else:
            n = "h%05x.%s.%s" % (rng.integers(0, 1 << 20),
                                 ("dial", "proxy", "www", "ppp")[rng.integers(0, 4)],
                                 tlds[rng.integers(0, len(tlds))])
        if n not in names:
            names.add(n)
            out.append(n)
    return out


def _file_edges(files_before, files_after):
    """Start second of each file, plus END: equal spans on each side of EDGE."""
    before = np.linspace(START, EDGE, files_before + 1).astype(np.int64)
    after = np.linspace(EDGE, END, files_after + 1).astype(np.int64)
    return np.concatenate([before[:-1], after])


def _render(host, ts, method, path, code, nbytes, kind):
    local = ts + TZ_OFFSET
    day = (local - (START + TZ_OFFSET)) // DAY + 1
    sod = local % DAY
    stamp = "%02d/Aug/1995:%02d:%02d:%02d" % (day, sod // 3600, sod // 60 % 60, sod % 60)
    tz, user, version = "-0400", "-", "HTTP/1.0"
    if kind == "http11":
        version = "HTTP/1.1"
    elif kind == "user":
        user = "alice"
    elif kind == "plus_tz":
        tz = "+0200"
    elif kind == "spaced_path":
        path = path + " x"
    return '%s - %s [%s %s] "%s %s %s" %d %s' % (
        host, user, stamp, tz, method, path, version, code, nbytes)


def generate(out_dir, seed, files_before, files_after, lines_per_file):
    """Write the log files under out_dir/log and tally.json beside them
    (tally last, so its presence marks a complete input)."""
    rng = np.random.default_rng(seed)
    names = _host_names(rng)
    weights = 1.0 / np.arange(1, HOSTS + 1) ** ZIPF_S
    weights /= weights.sum()
    edges = _file_edges(files_before, files_after)
    n_files = files_before + files_after
    n = n_files * lines_per_file

    file_of = np.repeat(np.arange(n_files), lines_per_file)
    ts = rng.integers(edges[file_of], edges[file_of + 1])
    host = rng.choice(HOSTS, size=n, p=weights)
    method = rng.choice(np.array(["GET", "POST", "HEAD"]), size=n, p=[0.85, 0.1, 0.05])
    page = rng.zipf(1.3, size=n) % 5000
    code = rng.choice(np.array([200, 304, 404]), size=n, p=[0.8, 0.12, 0.08])
    nbytes = rng.integers(0, 1_000_000, size=n)
    dash = rng.random(n) < 0.04
    u = rng.random(n)
    kind = np.full(n, -1)
    for k in range(len(DEAD_KINDS)):
        kind[(u >= k * DEAD_SHARE) & (u < (k + 1) * DEAD_SHARE)] = k
    valid = kind < 0

    log_dir = os.path.join(out_dir, "log")
    os.makedirs(log_dir, exist_ok=True)
    for f in range(n_files):
        idx = np.arange(f * lines_per_file, (f + 1) * lines_per_file)
        rng.shuffle(idx)
        lines = [_render(names[host[i]], int(ts[i]), method[i], "/p/%d.html" % page[i],
                         int(code[i]), "-" if dash[i] else str(nbytes[i]),
                         DEAD_KINDS[kind[i]] if kind[i] >= 0 else None)
                 for i in idx]
        path = os.path.join(log_dir, "part-%04d.log" % f)
        with open(path, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        # the streaming file source orders files by modification time
        os.utime(path, (1_000_000_000 + f, 1_000_000_000 + f))

    tally = _tally(names, host[valid], ts[valid], np.where(dash, 0, nbytes)[valid])
    tally.update(lines=int(n), dead_letters=int((~valid).sum()), files=n_files,
                 files_before_edge=files_before)
    with open(os.path.join(out_dir, "tally.json"), "w") as fh:
        json.dump(tally, fh, sort_keys=True)
    return tally


def _tally(names, host, ts, nbytes):
    """Per-window answers over the valid lines."""
    w_start = ts // WINDOW * WINDOW
    first_ts = {}
    for h, t in zip(host.tolist(), ts.tolist()):
        if t < first_ts.get(h, 1 << 62):
            first_ts[h] = t
    windows = {}
    for w in np.unique(w_start).tolist():
        sel = w_start == w
        hs = host[sel]
        counts = np.bincount(hs, minlength=len(names))
        top = counts.max()
        # ties go to the greatest host name, as max(struct(cnt, host)) does
        busiest = max(names[h] for h in np.flatnonzero(counts == top))
        n_events = int(sel.sum())
        windows[str(w)] = {
            "busiest_host": busiest,
            "busiest_cnt": int(top),
            "uniq_hosts": int((counts > 0).sum()),
            "first_seen_hosts": sum(1 for t in first_ts.values() if t // WINDOW * WINDOW == w),
            "avg_bytes": int(nbytes[sel].sum()) // n_events,
            "n_events": n_events,
        }
    return {"windows": windows, "distinct_hosts": len(first_ts)}


def load_or_generate(cache_dir, seed, files_before, files_after, lines_per_file):
    """The log for these parameters, generated once and reused."""
    out_dir = os.path.join(cache_dir, "clf-s%d-%dx%d-%d" % (
        seed, files_before, files_after, lines_per_file))
    tally_path = os.path.join(out_dir, "tally.json")
    if os.path.exists(tally_path):
        with open(tally_path) as fh:
            return out_dir, json.load(fh)
    return out_dir, generate(out_dir, seed, files_before, files_after, lines_per_file)
