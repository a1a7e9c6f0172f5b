/**
 * Reference-faithful Jaro-Winkler banded level, computed inside the
 * executor JVM.
 *
 * Exact semantics of functions/jw.py::jaro_winkler_bytes (itself the
 * byte-exact re-derivation of the reference GPU kernel,
 * /root/reference/faster/comparison.py:11-131): per-UTF-8-BYTE comparison,
 * max(len)/2 - 1 match window (the 1-char-strings-score-0 quirk included),
 * greedy first-free matcher, transpositions halved, UNCONDITIONAL Winkler
 * prefix boost capped at 4. Floating-point operation ORDER mirrors the
 * Python line-for-line, so IEEE-754 doubles come out bit-identical and the
 * banded level (2 if s >= upper, 1 if s >= lower, else 0) can never
 * disagree with the Python kernels.
 *
 * Null or empty on either side scores 0.0 (level 0) - same as the Python
 * batch path.
 */

import org.apache.spark.sql.api.java.UDF1;
import org.apache.spark.sql.api.java.UDF5;

public class JwUdfs {

    public static double jaroWinkler(byte[] s1, byte[] s2, double p) {
        int l1 = s1.length, l2 = s2.length;
        if (l1 == 0 || l2 == 0) return 0.0;
        if (l1 <= 64 && l2 <= 64) return jwShort(s1, s2, p);

        int maxDist = Math.max(l1, l2) / 2 - 1;
        boolean[] h1 = new boolean[l1];
        boolean[] h2 = new boolean[l2];
        int match = 0;
        for (int i = 0; i < l1; i++) {
            byte c = s1[i];
            int j0 = i - maxDist; if (j0 < 0) j0 = 0;
            int j1 = i + maxDist + 1; if (j1 > l2) j1 = l2;
            for (int j = j0; j < j1; j++) {
                if (c == s2[j] && !h2[j]) {
                    h1[i] = true;
                    h2[j] = true;
                    match++;
                    break;
                }
            }
        }
        if (match == 0) return 0.0;

        int t = 0, point = 0;
        for (int i = 0; i < l1; i++) {
            if (h1[i]) {
                while (!h2[point]) point++;
                if (s1[i] != s2[point]) t++;
                point++;
            }
        }
        double halfT = t / 2.0;
        double jaro = ((double) match / l1 + (double) match / l2
                       + (match - halfT) / match) / 3.0;

        int prefix = 0;
        int pmax = Math.min(Math.min(l1, l2), 4);
        for (int i = 0; i < pmax; i++) {
            if (s1[i] == s2[i]) prefix++;
            else break;
        }
        return jaro + p * prefix * (1.0 - jaro);
    }

    /**
     * Both sides <= 64 bytes (every name/street in the linkage hot path):
     * the greedy matcher's bookkeeping lives in two long bitmasks instead
     * of per-call boolean[] allocations. Identical matching semantics and
     * IDENTICAL floating-point operation order to the array path above —
     * only the match-flag storage differs, so scores are bit-equal.
     */
    private static double jwShort(byte[] s1, byte[] s2, double p) {
        int l1 = s1.length, l2 = s2.length;
        int maxDist = Math.max(l1, l2) / 2 - 1;
        long h1 = 0L, h2 = 0L;
        int match = 0;
        for (int i = 0; i < l1; i++) {
            byte c = s1[i];
            int j0 = i - maxDist; if (j0 < 0) j0 = 0;
            int j1 = i + maxDist + 1; if (j1 > l2) j1 = l2;
            for (int j = j0; j < j1; j++) {
                if (c == s2[j] && (h2 & (1L << j)) == 0L) {
                    h1 |= 1L << i;
                    h2 |= 1L << j;
                    match++;
                    break;
                }
            }
        }
        if (match == 0) return 0.0;

        int t = 0, point = 0;
        for (int i = 0; i < l1; i++) {
            if ((h1 & (1L << i)) != 0L) {
                while ((h2 & (1L << point)) == 0L) point++;
                if (s1[i] != s2[point]) t++;
                point++;
            }
        }
        double halfT = t / 2.0;
        double jaro = ((double) match / l1 + (double) match / l2
                       + (match - halfT) / match) / 3.0;

        int prefix = 0;
        int pmax = Math.min(Math.min(l1, l2), 4);
        for (int i = 0; i < pmax; i++) {
            if (s1[i] == s2[i]) prefix++;
            else break;
        }
        return jaro + p * prefix * (1.0 - jaro);
    }

    /**
     * The banded level UDF over BinaryType columns: Spark's Java-UDF
     * bridge hands BinaryType through as byte[] with no conversion, where
     * a String signature would pay UTF8String -> String (UTF-16 decode) in
     * the bridge plus a UTF-8 re-encode per call — two transcodes and two
     * allocations per scored pair. Callers cast the value columns to
     * binary (Spark's string->binary cast IS the UTF-8 bytes, same as
     * Python .encode()).
     */
    public static class Bin implements UDF5<byte[], byte[], Double, Double, Double, Integer> {
        @Override
        public Integer call(byte[] a, byte[] b, Double p, Double lower, Double upper) {
            if (a == null || b == null) return 0;
            double s = jaroWinkler(a, b, p);
            if (s >= upper) return 2;
            if (s >= lower) return 1;
            return 0;
        }
    }

    /**
     * 64-bit character-MULTISET sketch for the pre-kernel candidate
     * filter: one bit per (byte value, occurrence index) pair, so
     * Long.bitCount(maskA &amp; maskB) upper-bounds the greedy matcher's
     * match count m — each greedy match pairs equal bytes, at most
     * min(countA(c), countB(c)) per byte value, and every such (c, k)
     * contributes a shared bit. Hash collisions (two (c, k) pairs on one
     * bit) only INFLATE the intersection count, so the filter that
     * consumes this (operators/agreement.py::scored_value_pairs) stays
     * conservative: it can never drop a pair the kernel would score at
     * level &gt; 0. Must stay in lockstep with functions/jw.py::
     * char_mask_bytes (same (c*37 + k*131) &amp; 63 bit index).
     */
    public static long charMask(byte[] s) {
        long m = 0L;
        int[] seen = new int[256];
        for (byte b : s) {
            int c = b & 0xFF;
            int k = seen[c]++;
            m |= 1L << ((c * 37 + k * 131) & 63);
        }
        return m;
    }

    public static class CharMask implements UDF1<byte[], Long> {
        @Override
        public Long call(byte[] s) {
            return s == null ? 0L : charMask(s);
        }
    }
}
