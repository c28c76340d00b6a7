/* Batch Jaro-Winkler / OSA kernels — C implementations of the pure-Python
 * semantics in strdist.py (the semantics oracle; see its reference citations:
 * stringdist 'jw'/'osa', R/distances.R:27-43).
 *
 * BIT-EXACTNESS CONTRACT: every float expression mirrors the Python kernel's
 * evaluation order exactly —
 *   jaro = (m/ls + m/lt + (m - t)/m) / 3.0          (left-to-right adds)
 *   jw   = 1.0 - (j + l*p*(1.0 - j))                ((l*p)*(1-j) grouping)
 *   osa_norm = d / max(ls, lt)
 * so outputs are bit-identical to the Python kernel (locked by
 * tests/test_strdist.py::test_c_kernel_bitwise) and therefore to DuckDB's
 * jaro_similarity (locked by the oracle queries).
 *
 * Strings arrive as two Arrow UTF-8 arrays (string or large_string): the
 * validity bitmap, offsets and data buffers plus the array's element
 * offset, read in place — one ctypes call per Arrow batch, no per-pair
 * Python. Each string is decoded to code points here (ASCII copies
 * straight through), so lengths and comparisons are over code points, as
 * for a Python str. Output is a float64 buffer plus an Arrow validity
 * bitmap: NULL on either side gives NULL.
 */
#include <stdint.h>
#include <stdlib.h>
#include <string.h>

enum { K_JW = 0, K_OSA = 1, K_OSA_NORM = 2 };

typedef struct {
    const uint8_t *valid; /* validity bitmap; NULL when there are no nulls */
    const void *offsets;  /* int32 (string) or int64 (large_string) */
    const uint8_t *data;  /* UTF-8 bytes; may be NULL when all are empty */
    int64_t offset;       /* the array's element offset into the buffers */
    int64_t wide;         /* 1 for int64 offsets */
} strview;

static int sv_null(const strview *v, int64_t i) {
    int64_t k = v->offset + i;
    return v->valid && !((v->valid[k >> 3] >> (k & 7)) & 1);
}

static const uint8_t *sv_bytes(const strview *v, int64_t i, int64_t *len) {
    int64_t k = v->offset + i, a, b;
    if (v->wide) {
        const int64_t *o = (const int64_t *)v->offsets;
        a = o[k];
        b = o[k + 1];
    } else {
        const int32_t *o = (const int32_t *)v->offsets;
        a = o[k];
        b = o[k + 1];
    }
    *len = b - a;
    return v->data + a;
}

static int64_t sv_maxbytes(const strview *v, int64_t n) {
    int64_t m = 0, len;
    for (int64_t i = 0; i < n; i++) {
        sv_bytes(v, i, &len);
        if (len > m) m = len;
    }
    return m;
}

/* UTF-8 -> code points; returns the count. ASCII bytes take the first
 * branch and copy straight through. A malformed or truncated sequence
 * yields its lead byte as one code point, never reading past the string. */
static int64_t decode(const uint8_t *b, int64_t nb, uint32_t *cp) {
    int64_t i = 0, n = 0;
    while (i < nb) {
        uint32_t c = b[i];
        if (c < 0x80) {
            cp[n++] = c;
            i++;
            continue;
        }
        int k = c >= 0xF8 ? 0 : c >= 0xF0 ? 3 : c >= 0xE0 ? 2 : c >= 0xC0 ? 1 : 0;
        if (k == 0 || i + k >= nb) {
            cp[n++] = c;
            i++;
            continue;
        }
        uint32_t u = c & (0x3Fu >> k);
        int ok = 1;
        for (int j = 1; j <= k; j++) {
            if ((b[i + j] & 0xC0) != 0x80) {
                ok = 0;
                break;
            }
            u = (u << 6) | (b[i + j] & 0x3F);
        }
        if (!ok) {
            cp[n++] = c;
            i++;
            continue;
        }
        cp[n++] = u;
        i += k + 1;
    }
    return n;
}

static double jaro(const uint32_t *s, int64_t ls, const uint32_t *t,
                   int64_t lt, char *sf, char *tf) {
    if (ls == 0 && lt == 0) return 1.0;
    if (ls == 0 || lt == 0) return 0.0;
    int64_t window = (ls > lt ? ls : lt) / 2 - 1;
    if (window < 0) window = 0;
    for (int64_t i = 0; i < ls; i++) sf[i] = 0;
    for (int64_t j = 0; j < lt; j++) tf[j] = 0;
    int64_t matches = 0;
    for (int64_t i = 0; i < ls; i++) {
        int64_t lo = i - window;
        if (lo < 0) lo = 0;
        int64_t hi = i + window + 1;
        if (hi > lt) hi = lt;
        for (int64_t j = lo; j < hi; j++) {
            if (!tf[j] && t[j] == s[i]) {
                sf[i] = 1;
                tf[j] = 1;
                matches++;
                break;
            }
        }
    }
    if (matches == 0) return 0.0;
    int64_t k = 0, trans = 0;
    for (int64_t i = 0; i < ls; i++) {
        if (sf[i]) {
            while (!tf[k]) k++;
            if (s[i] != t[k]) trans++;
            k++;
        }
    }
    trans /= 2;
    double m = (double)matches;
    return (m / (double)ls + m / (double)lt + (m - (double)trans) / m) / 3.0;
}

/* Jaro-Winkler DISTANCE (unconditional Winkler boost, prefix<=4). */
static double jw(const uint32_t *s, int64_t ls, const uint32_t *t,
                 int64_t lt, double p, char *sf, char *tf) {
    double j = jaro(s, ls, t, lt, sf, tf);
    int64_t l = 0, lm = ls < lt ? ls : lt;
    if (lm > 4) lm = 4;
    while (l < lm && s[l] == t[l]) l++;
    return 1.0 - (j + (double)l * p * (1.0 - j));
}

/* OSA edit distance; prev2/prev/cur hold lt + 1 entries each. */
static int64_t osa(const uint32_t *s, int64_t ls, const uint32_t *t,
                   int64_t lt, int64_t *prev2, int64_t *prev, int64_t *cur) {
    if (ls == 0) return lt;
    if (lt == 0) return ls;
    for (int64_t j = 0; j <= lt; j++) prev[j] = j;
    for (int64_t ii = 1; ii <= ls; ii++) {
        cur[0] = ii;
        for (int64_t j = 1; j <= lt; j++) {
            int64_t cost = (s[ii - 1] == t[j - 1]) ? 0 : 1;
            int64_t v = prev[j] + 1;
            if (cur[j - 1] + 1 < v) v = cur[j - 1] + 1;
            if (prev[j - 1] + cost < v) v = prev[j - 1] + cost;
            if (ii > 1 && j > 1 && s[ii - 1] == t[j - 2] &&
                s[ii - 2] == t[j - 1] && prev2[j - 2] + cost < v)
                v = prev2[j - 2] + cost;
            cur[j] = v;
        }
        int64_t *tmp = prev2;
        prev2 = prev;
        prev = cur;
        cur = tmp;
    }
    return prev[lt];
}

/* out[i] = JW distance with prefix scale `param` (K_JW), OSA edit distance
 * (K_OSA) or 1 - stringsim (K_OSA_NORM) of s[i], t[i]; valid is an Arrow
 * validity bitmap of (n + 7) / 8 bytes. Returns the null count, or -1 if
 * scratch allocation failed. */
int64_t strdist_arrow(int64_t kind, double param, int64_t n,
                      const strview *sv, const strview *tv, double *out,
                      uint8_t *valid) {
    int64_t ms = sv_maxbytes(sv, n), mt = sv_maxbytes(tv, n);
    int64_t maxl = (ms > mt ? ms : mt) + 1; /* code points <= bytes */
    uint32_t *s = (uint32_t *)malloc((size_t)maxl * sizeof(uint32_t));
    uint32_t *t = (uint32_t *)malloc((size_t)maxl * sizeof(uint32_t));
    /* JW: two flag arrays; OSA: three DP rows */
    int64_t *rows = (int64_t *)malloc((size_t)(3 * maxl) * sizeof(int64_t));
    if (!s || !t || !rows) {
        free(s);
        free(t);
        free(rows);
        return -1;
    }
    memset(valid, 0, (size_t)((n + 7) / 8));
    int64_t nulls = 0;
    for (int64_t i = 0; i < n; i++) {
        if (sv_null(sv, i) || sv_null(tv, i)) {
            out[i] = 0.0;
            nulls++;
            continue;
        }
        valid[i >> 3] |= (uint8_t)(1u << (i & 7));
        int64_t bs, bt;
        const uint8_t *ps = sv_bytes(sv, i, &bs), *pt = sv_bytes(tv, i, &bt);
        int64_t ls = decode(ps, bs, s), lt = decode(pt, bt, t);
        if (kind == K_JW) {
            char *f = (char *)rows;
            out[i] = jw(s, ls, t, lt, param, f, f + maxl);
        } else {
            int64_t d = osa(s, ls, t, lt, rows, rows + maxl, rows + 2 * maxl);
            int64_t m = ls > lt ? ls : lt;
            out[i] = kind == K_OSA ? (double)d : m ? (double)d / (double)m : 0.0;
        }
    }
    free(s);
    free(t);
    free(rows);
    return nulls;
}
