/*
 * The trie walk behind every fuzzy lookup: depth-first branch-and-bound
 * over a LocalIndex's flat arrays, one query at a time, with the DP of
 * the reference's CalculateLevenshteinVector / GetMinDistance /
 * GetFinalDistance (PrefixTree.ecl:315-394, 460-539).
 *
 * Each path depth q (characters consumed) keeps one DP row holding only
 * the Ukkonen window j in [max(0, q-k), min(n, q+k)]; a cell outside
 * the window is at least k+1, so it reads as k+1 and every cell <= k is
 * exact. Rows are stored per depth, so a frame's row stays valid while
 * its children overwrite the deeper ones. Pruning, as in the Python
 * walk (operators/query.py _walk_one):
 *   - the subtree length band: skip a child when n is outside
 *     [_min - k, _max + k] (PrefixTree.ecl:440-441);
 *   - the row-minimum bound: stop an edge when every window cell > k
 *     (PrefixTree.ecl:426,434), checked per character;
 *   - an end-cap (whose label is its whole word, and whose path spells
 *     it) reads cell n of its parent's row.
 *
 * Built with `cc -O2 -shared -fPIC` by functions/native.py and called
 * through ctypes, which releases the GIL for the call.
 */

#include <stdint.h>
#include <stdlib.h>

typedef struct {
    const int32_t *codes;    /* label codepoints, all nodes back to back */
    const int64_t *code_off; /* n_nodes + 1 offsets into codes */
    const int32_t *mins;     /* shortest word length below each node */
    const int32_t *maxs;     /* longest word length below each node */
    const uint8_t *is_word;  /* end-cap flag */
    const int64_t *kid_off;  /* n_nodes + 1 offsets into kid_pos */
    const int64_t *kid_pos;  /* children, by row position */
    const int64_t *roots;    /* row positions of the forest roots */
    int64_t n_roots;
} pt_index;

typedef struct {
    const int64_t *next; /* next child to visit */
    const int64_t *end;
    int64_t p;           /* path length (chars) of the parent */
} frame;

static int grow(void **buf, int64_t *cap, int64_t need, size_t size)
{
    int64_t c = *cap > 0 ? *cap : 64;
    void *nb;
    if (need <= *cap)
        return 0;
    while (c < need)
        c *= 2;
    nb = realloc(*buf, (size_t)c * size);
    if (nb == NULL)
        return -1;
    *buf = nb;
    *cap = c;
    return 0;
}

/*
 * Walk every query q_codes[q_off[i] : q_off[i+1]] (i < n_q) at distance
 * k >= 0. Writes up to `cap` hits as (query index, node row position,
 * distance) and returns the number of hits found, which exceeds `cap`
 * when the outputs were too small; -1 when memory ran out.
 */
int64_t pt_walk(const pt_index *ix, const int32_t *q_codes,
                const int64_t *q_off, int64_t n_q, int64_t k,
                int64_t *out_q, int64_t *out_pos, int32_t *out_d, int64_t cap)
{
    const int32_t big = (int32_t)(k + 1);
    int32_t *rows = NULL;
    frame *stack = NULL;
    int64_t rows_cap = 0, stack_cap = 0, hits = 0, i;

    for (i = 0; i < n_q; i++) {
        const int32_t *s = q_codes + q_off[i];
        const int64_t n = q_off[i + 1] - q_off[i];
        const int64_t w = 2 * k + 1 < n + 1 ? 2 * k + 1 : n + 1;
        int64_t top, j;

        /* depth 0: distance(empty path, s[:j]) = j */
        if (grow((void **)&rows, &rows_cap, w, sizeof *rows) ||
            grow((void **)&stack, &stack_cap, 1, sizeof *stack))
            goto oom;
        for (j = 0; j <= n && j <= k; j++)
            rows[j] = (int32_t)j;
        stack[0].next = ix->roots;
        stack[0].end = ix->roots + ix->n_roots;
        stack[0].p = 0;
        top = 1;

        while (top > 0) {
            frame *f = &stack[top - 1];
            int64_t pos, p, t, len;
            const int32_t *lab;
            int alive = 1;

            if (f->next == f->end) {
                top--;
                continue;
            }
            pos = *f->next++;
            p = f->p;
            if (n < ix->mins[pos] - k || n > ix->maxs[pos] + k)
                continue;
            if (ix->is_word[pos]) {
                /* the band put |n - p| <= k: cell n is in p's window */
                const int64_t lo = p > k ? p - k : 0;
                if (n >= lo && n <= p + k) {
                    const int32_t d = rows[p * w + (n - lo)];
                    if (d <= k) {
                        if (hits < cap) {
                            out_q[hits] = i;
                            out_pos[hits] = pos;
                            out_d[hits] = d;
                        }
                        hits++;
                    }
                }
                continue;
            }
            lab = ix->codes + ix->code_off[pos];
            len = ix->code_off[pos + 1] - ix->code_off[pos];
            for (t = 0; t < len; t++) {
                const int32_t c = lab[t];
                /* row q from row q-1; both windows clipped to [0, n] */
                const int64_t q = p + t + 1;
                const int64_t lo = q > k ? q - k : 0;
                const int64_t hi = q + k < n ? q + k : n;
                const int64_t plo = q - 1 > k ? q - 1 - k : 0;
                const int64_t phi = q - 1 + k < n ? q - 1 + k : n;
                const int32_t *prev;
                int32_t *cur, left = big, m = big;

                if (lo > hi) { /* path longer than n + k */
                    alive = 0;
                    break;
                }
                if (grow((void **)&rows, &rows_cap, (q + 1) * w, sizeof *rows))
                    goto oom;
                /* indexed by j: prev[j] is cell j of row q-1 */
                prev = rows + (q - 1) * w - plo;
                cur = rows + q * w - lo;
                for (j = lo; j <= hi; j++) {
                    int32_t v;
                    if (j == 0) {
                        v = (int32_t)q;
                    } else {
                        /* diag (j-1) is always inside the previous window */
                        v = prev[j - 1] + (c != s[j - 1]);
                        if (j <= phi && prev[j] + 1 < v)
                            v = prev[j] + 1;
                        if (left + 1 < v)
                            v = left + 1;
                        if (v > big)
                            v = big;
                    }
                    cur[j] = left = v;
                    if (v < m)
                        m = v;
                }
                if (m > k) {
                    alive = 0;
                    break;
                }
            }
            if (!alive || ix->kid_off[pos] == ix->kid_off[pos + 1])
                continue;
            if (grow((void **)&stack, &stack_cap, top + 1, sizeof *stack))
                goto oom;
            stack[top].next = ix->kid_pos + ix->kid_off[pos];
            stack[top].end = ix->kid_pos + ix->kid_off[pos + 1];
            stack[top].p = p + len;
            top++;
        }
    }
    free(rows);
    free(stack);
    return hits;
oom:
    free(rows);
    free(stack);
    return -1;
}
