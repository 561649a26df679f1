"""Span arithmetic: self time is a span's duration minus the time its
children cover (overlapping children are counted once)."""


def self_times(spans):
    """Map span id -> self time in seconds."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        start, end = s["start_ns"], s["end_ns"]
        ivs = sorted((max(c["start_ns"], start), min(c["end_ns"], end))
                     for c in children.get(s["id"], []))
        covered, cur_s, cur_e = 0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["id"]] = max(0, (end - start) - covered) / 1e9
    return out


def by_name(spans):
    """Map span name -> list of (span, self seconds)."""
    st = self_times(spans)
    out = {}
    for s in spans:
        out.setdefault(s["name"], []).append((s, st[s["id"]]))
    return out
