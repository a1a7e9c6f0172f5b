/**
 * JVM-side sketch kernels for fast_er_spark.
 *
 * An Arrow-batched Python signature UDF was the dominant corpus-scale cost
 * of the dedup pipeline (PERF.md): every document's text crossed the
 * JVM->Arrow->Python boundary and was tokenized/hashed in (vectorized but
 * still interpreter-bound) numpy. This class keeps the whole
 * tokenize -> shingle-hash -> one-permutation-MinHash pipeline inside the
 * executor JVM: no Arrow transfer, no Python worker, JIT-compiled loops.
 *
 * Algorithm: one-permutation hashing with rotation densification
 * (Shrivastava & Li; public algorithm) over FNV-1a-of-UTF-8 token hashes
 * with a splitmix64 finalizer. It is the word-mode signature kernel; char
 * mode signs with the k-permutation family of functions/minhash.py, whose
 * signatures are incompatible with these - never mix them in one LSH
 * index. E[slot match] = Jaccard holds for both, and the verify stage is
 * family-agnostic.
 *
 * Empty/blank documents return null. The candidate generator filters blank
 * text before signing, AND band_hash_array (operators/lsh.py) drops
 * null-signature rows — xxhash64 over a null slice would otherwise hash
 * every null signature to the same constant bucket per band, pairing all
 * blank docs with each other.
 *
 * Non-BMP text: tokenHash encodes surrogate halves as CESU-8 (two 3-byte
 * sequences) rather than UTF-8's 4-byte form. CESU-8 is injective, so
 * shingle-set identity — and therefore every intersection/union size the
 * verify stage consumes — still matches the Python engine exactly; only the
 * (already family-incompatible) hash values differ.
 */

import java.util.ArrayList;
import org.apache.spark.sql.api.java.UDF4;

public class FastErUdfs implements UDF4<String, Integer, Integer, Long, ArrayList<Long>> {

    /** Same odd mixing constants as functions/shingles.py::_MIX. */
    private static final long[] MIX = {
        0x9E3779B97F4A7C15L | 1L, 0xC2B2AE3D27D4EB4FL | 1L,
        0x165667B19E3779F9L | 1L, 0x27D4EB2F165667C5L | 1L,
        0x85EBCA77C2B2AE63L | 1L, 0x2545F4914F6CDD1DL | 1L,
        0xFF51AFD7ED558CCDL | 1L, 0xC4CEB9FE1A85EC53L | 1L,
    };
    private static final long EMPTY = -1L; // unsigned 2^64-1 sentinel
    private static final long ODD = 0x9E3779B97F4A7C15L | 1L;

    /**
     * Python's str.split() whitespace set, NOT Java's. Character.isWhitespace
     * excludes U+0085 (NEL), U+00A0 (NBSP), U+2007 (figure space) and U+202F
     * (narrow NBSP), all of which Python treats as separators — so without
     * this the JVM and Python engines would produce different shingle SETS
     * (hence different Jaccard / intersection / union sizes) on such text.
     * Whitespace never occurs in surrogate pairs, so char-wise iteration
     * yields the same token boundaries as code-point iteration.
     */
    private static boolean isPyWhitespace(char c) {
        return Character.isWhitespace(c)
                || c == '\u0085' || c == '\u00A0' || c == '\u2007' || c == '\u202F';
    }

    private static long splitmix64(long z) {
        z += 0x9E3779B97F4A7C15L;
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L;
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL;
        return z ^ (z >>> 31);
    }

    /** FNV-1a over UTF-8 bytes of [from, to) + splitmix finalizer. */
    private static long tokenHash(String s, int from, int to, long seed) {
        long h = 0xCBF29CE484222325L ^ seed;
        for (int i = from; i < to; i++) {
            char c = s.charAt(i);
            // inline UTF-8 encoding (tokens are overwhelmingly ASCII)
            if (c < 0x80) {
                h = (h ^ c) * 0x100000001B3L;
            } else if (c < 0x800) {
                h = (h ^ (0xC0 | (c >> 6))) * 0x100000001B3L;
                h = (h ^ (0x80 | (c & 0x3F))) * 0x100000001B3L;
            } else {
                h = (h ^ (0xE0 | (c >> 12))) * 0x100000001B3L;
                h = (h ^ (0x80 | ((c >> 6) & 0x3F))) * 0x100000001B3L;
                h = (h ^ (0x80 | (c & 0x3F))) * 0x100000001B3L;
            }
        }
        return splitmix64(h);
    }

    /**
     * OPH signature of the word-mode n-gram shingle multiset.
     * numPerm must be a power of two >= 2 (checked Python-side too).
     */
    public static long[] ophSignature(String text, int numPerm, int n, long seed) {
        if (text == null) return null;
        int len = text.length();
        int shift = 64 - Integer.numberOfTrailingZeros(numPerm);

        long[] sig = new long[numPerm];
        java.util.Arrays.fill(sig, EMPTY);

        // tokenize on whitespace + hash each token, streaming
        long[] toks = new long[32];
        int nTok = 0;
        int i = 0;
        while (i < len) {
            while (i < len && isPyWhitespace(text.charAt(i))) i++;
            if (i >= len) break;
            int start = i;
            while (i < len && !isPyWhitespace(text.charAt(i))) i++;
            if (nTok == toks.length) toks = java.util.Arrays.copyOf(toks, nTok * 2);
            toks[nTok++] = tokenHash(text, start, i, seed);
        }
        if (nTok == 0) return null;

        // sliding n-gram combine (shingles < n tokens: one whole-doc shingle),
        // each shingle hash goes straight into its OPH bucket (duplicates
        // cannot change a min, so no distinct pass is needed)
        int nEff = Math.min(n, nTok);
        int w = nTok - nEff + 1;
        for (int p = 0; p < w; p++) {
            long h = 0;
            for (int k = 0; k < nEff; k++) h += MIX[k] * toks[p + k];
            int b = (int) (h >>> shift);
            if (Long.compareUnsigned(h, sig[b]) < 0) sig[b] = h;
        }

        // rotation densification: two right-to-left passes give every empty
        // slot its circularly-next non-empty donor + distance offset
        long[] dense = sig.clone();
        long fillVal = EMPTY;
        long fillDist = 0;
        for (int pass = 0; pass < 2; pass++) {
            for (int k = numPerm - 1; k >= 0; k--) {
                if (sig[k] != EMPTY) {
                    fillVal = sig[k];
                    fillDist = 0;
                } else {
                    fillDist++;
                }
                if (dense[k] == EMPTY && fillVal != EMPTY) {
                    dense[k] = fillVal + fillDist * ODD;
                }
            }
        }
        return dense;
    }

    @Override
    public ArrayList<Long> call(String text, Integer numPerm, Integer n, Long seed) {
        long[] sig = ophSignature(text, numPerm, n, seed);
        if (sig == null) return null;
        ArrayList<Long> out = new ArrayList<>(sig.length);
        for (long v : sig) out.add(v);
        return out;
    }

    /**
     * Content-defined (winnowing) substring anchors as DISTINCT sorted
     * hashes: a true O(n) ROLLING polynomial hash over every
     * anchor_len-char window; a position is an anchor iff its mixed hash
     * is 0 mod density, and the mixed hash itself is the anchor identity.
     * The Python path hashes an allocated substring per position through
     * interpreted higher-order functions (measured ~4k docs/s at 200k docs
     * — the slowest pipeline stage); this kernel is the same
     * alignment-invariant selection contract (selection depends only on
     * the window's characters) in a different hash family, which is fine:
     * anchors only ever join against anchors from this same function, and
     * candidates are verified downstream by exact LCS.
     */
    public static class SubstringAnchors
            implements org.apache.spark.sql.api.java.UDF4<String, Integer, Integer, Long, ArrayList<Long>> {
        private static final long B = 0x100000001B3L | 1L;

        @Override
        public ArrayList<Long> call(String text, Integer anchorLen, Integer density, Long seed) {
            if (text == null) return new ArrayList<>(0);
            int n = text.length();
            int L = anchorLen;
            if (n < L) return new ArrayList<>(0);
            long bl = 1; // B^L for the rolling removal
            for (int i = 0; i < L; i++) bl *= B;
            // the rolling state must be PURE window content (a seed folded
            // into the state would scale by B per step and make selection
            // position-dependent, destroying alignment invariance); the
            // seed only enters the final mix
            long h = 0;
            for (int i = 0; i < L; i++) h = h * B + text.charAt(i);
            int w = n - L + 1;
            long[] sel = new long[16];
            int nSel = 0;
            for (int p = 0; ; p++) {
                long mixed = splitmix64(h ^ seed);
                if (Long.remainderUnsigned(mixed, density) == 0) {
                    if (nSel == sel.length) sel = java.util.Arrays.copyOf(sel, nSel * 2);
                    sel[nSel++] = mixed;
                }
                if (p + 1 >= w) break;
                h = h * B - text.charAt(p) * bl + text.charAt(p + L);
            }
            if (nSel == 0) return new ArrayList<>(0);
            java.util.Arrays.sort(sel, 0, nSel);
            ArrayList<Long> out = new ArrayList<>(nSel);
            long prev = 0;
            for (int j = 0; j < nSel; j++) {
                if (j == 0 || sel[j] != prev) out.add(sel[j]);
                prev = sel[j];
            }
            return out;
        }
    }

    /**
     * OPH signature AND distinct sorted shingle hashes in ONE tokenization
     * pass — the fused sketch for the LSH-then-verify dedup path. The split
     * kernels (FastErUdfs for the signature, ShingleHashes for the verify
     * side) each re-tokenize and re-hash every shingle of every document;
     * at corpus scale that doubles the dominant map-side cost for byte-
     * identical results. Output [0] = signature (exactly ophSignature's
     * value: same token hashes, same bucket mins, same densification),
     * [1] = sorted distinct shingle hashes (exactly ShingleHashes' value).
     * Blank/None text -> null (ophSignature's contract; the caller filters
     * blank docs and band_hash_array drops null signatures).
     */
    public static class SigAndShingles
            implements org.apache.spark.sql.api.java.UDF4<String, Integer, Integer, Long, ArrayList<ArrayList<Long>>> {
        @Override
        public ArrayList<ArrayList<Long>> call(String text, Integer numPerm, Integer n, Long seed) {
            if (text == null) return null;
            int len = text.length();
            int shift = 64 - Integer.numberOfTrailingZeros(numPerm);
            long[] toks = new long[32];
            int nTok = 0;
            int i = 0;
            while (i < len) {
                while (i < len && isPyWhitespace(text.charAt(i))) i++;
                if (i >= len) break;
                int start = i;
                while (i < len && !isPyWhitespace(text.charAt(i))) i++;
                if (nTok == toks.length) toks = java.util.Arrays.copyOf(toks, nTok * 2);
                toks[nTok++] = tokenHash(text, start, i, seed);
            }
            if (nTok == 0) return null;
            int nEff = Math.min(n, nTok);
            int w = nTok - nEff + 1;
            long[] sig = new long[numPerm];
            java.util.Arrays.fill(sig, EMPTY);
            long[] hs = new long[w];
            for (int p = 0; p < w; p++) {
                long h = 0;
                for (int k = 0; k < nEff; k++) h += MIX[k] * toks[p + k];
                hs[p] = h;
                int b = (int) (h >>> shift);
                if (Long.compareUnsigned(h, sig[b]) < 0) sig[b] = h;
            }
            // rotation densification — identical to ophSignature's tail
            long[] dense = sig.clone();
            long fillVal = EMPTY;
            long fillDist = 0;
            for (int pass = 0; pass < 2; pass++) {
                for (int k = numPerm - 1; k >= 0; k--) {
                    if (sig[k] != EMPTY) {
                        fillVal = sig[k];
                        fillDist = 0;
                    } else {
                        fillDist++;
                    }
                    if (dense[k] == EMPTY && fillVal != EMPTY) {
                        dense[k] = fillVal + fillDist * ODD;
                    }
                }
            }
            ArrayList<Long> sigOut = new ArrayList<>(numPerm);
            for (long v : dense) sigOut.add(v);
            java.util.Arrays.sort(hs);
            ArrayList<Long> shOut = new ArrayList<>(w);
            long prev = 0;
            for (int j = 0; j < w; j++) {
                if (j == 0 || hs[j] != prev) shOut.add(hs[j]);
                prev = hs[j];
            }
            ArrayList<ArrayList<Long>> out = new ArrayList<>(2);
            out.add(sigOut);
            out.add(shOut);
            return out;
        }
    }

    /**
     * (intersection_size << 32) | union_size of two SORTED-DISTINCT long
     * arrays via one linear merge-scan — the verify-stage replacement for
     * array_intersect + array_union, which build a hash set per PAIR (the
     * dominant per-pair cost of exact-Jaccard verification). Inputs MUST be
     * ascending and duplicate-free — exactly what ShingleHashes and
     * SigAndShingles emit; on such arrays the sizes equal
     * size(array_intersect(a,b)) and size(array_union(a,b)) bit-for-bit
     * (union = |a| + |b| - inter for distinct arrays). Null input -> -1
     * (callers treat the pair as unverifiable, matching the null-propagating
     * expression form).
     */
    public static class SortedInterUnion
            implements org.apache.spark.sql.api.java.UDF2<Object, Object, Long> {
        @Override
        public Long call(Object ao, Object bo) {
            if (ao == null || bo == null) return -1L;
            // the runtime collection class for array<long> is a Spark
            // implementation detail (immutable/mutable ArraySeq by version);
            // scala.collection.Seq is the common supertype of both
            scala.collection.Seq<?> a = (scala.collection.Seq<?>) ao;
            scala.collection.Seq<?> b = (scala.collection.Seq<?>) bo;
            int na = a.size(), nb = b.size();
            int i = 0, j = 0;
            long inter = 0;
            while (i < na && j < nb) {
                long x = ((Number) a.apply(i)).longValue();
                long y = ((Number) b.apply(j)).longValue();
                if (x == y) { inter++; i++; j++; }
                else if (x < y) i++;
                else j++;
            }
            long union = (long) na + nb - inter;
            return (inter << 32) | union;
        }
    }

    /**
     * DISTINCT word-mode n-gram shingle hashes (sorted ascending) — the JVM
     * twin of functions/shingles.py::hash_shingles_batch for the VERIFY
     * stage. Different hash family than the Python path, which is fine:
     * verification only intersects hashes computed by THIS function on both
     * sides, and intersection/union sizes are family-independent (modulo
     * 2^-64 collisions). Blank/None -> empty list (python contract).
     */
    public static class ShingleHashes
            implements org.apache.spark.sql.api.java.UDF3<String, Integer, Long, ArrayList<Long>> {
        @Override
        public ArrayList<Long> call(String text, Integer n, Long seed) {
            if (text == null) return new ArrayList<>(0);
            int len = text.length();
            long[] toks = new long[32];
            int nTok = 0;
            int i = 0;
            while (i < len) {
                while (i < len && isPyWhitespace(text.charAt(i))) i++;
                if (i >= len) break;
                int start = i;
                while (i < len && !isPyWhitespace(text.charAt(i))) i++;
                if (nTok == toks.length) toks = java.util.Arrays.copyOf(toks, nTok * 2);
                toks[nTok++] = tokenHash(text, start, i, seed);
            }
            if (nTok == 0) return new ArrayList<>(0);
            int nEff = Math.min(n, nTok);
            int w = nTok - nEff + 1;
            long[] hs = new long[w];
            for (int p = 0; p < w; p++) {
                long h = 0;
                for (int k = 0; k < nEff; k++) h += MIX[k] * toks[p + k];
                hs[p] = h;
            }
            java.util.Arrays.sort(hs);
            ArrayList<Long> out = new ArrayList<>(w);
            long prev = 0;
            for (int j = 0; j < w; j++) {
                if (j == 0 || hs[j] != prev) out.add(hs[j]);
                prev = hs[j];
            }
            return out;
        }
    }
}
