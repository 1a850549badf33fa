"""Jaro-Winkler similarity, written independently of graft's kernel
(match window max(|a|,|b|)/2 - 1, halved transpositions, Winkler prefix
bonus p = 0.1 on at most 4 chars when jaro > 0.7)."""


def jaro_winkler(a, b):
    if not a and not b:
        return 1.0
    if not a or not b:
        return 0.0
    window = max(max(len(a), len(b)) // 2 - 1, 0)
    used = [False] * len(b)
    ma = []
    for i, ch in enumerate(a):
        for j in range(max(0, i - window), min(i + window + 1, len(b))):
            if not used[j] and b[j] == ch:
                used[j] = True
                ma.append(ch)
                break
    m = len(ma)
    if m == 0:
        return 0.0
    mb = [b[j] for j in range(len(b)) if used[j]]
    trans = sum(x != y for x, y in zip(ma, mb))
    jaro = (m / len(a) + m / len(b) + (m - trans / 2.0) / m) / 3.0
    if jaro <= 0.7:
        return jaro
    prefix = 0
    while prefix < min(4, len(a), len(b)) and a[prefix] == b[prefix]:
        prefix += 1
    return jaro + 0.1 * prefix * (1.0 - jaro)
