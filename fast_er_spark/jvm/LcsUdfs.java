/**
 * Shared-span check for the substring verifier, computed inside the
 * executor JVM.
 *
 * The verifier only needs to know whether two texts share a common
 * substring of at least k code points, i.e. whether the longest common
 * substring (oracle/kernels.py::lcs_len) is >= k. That holds exactly when
 * the texts share one k-code-point WINDOW, so no longest span is computed:
 * every k-window of the shorter text goes into a primitive long
 * open-addressing table keyed by its rolling hash, and the longer text's
 * windows probe it. A hash hit is confirmed by comparing the code points,
 * so the answer is exact whatever the hash does. Both strings are decoded
 * to CODE POINT arrays first: Python len()/slicing counts code points, so
 * counting UTF-16 units would overstate spans containing astral characters
 * (each counts 2 units but 1 code point).
 *
 * k <= 0 is always true (every pair shares an empty span); a null side is
 * false for k > 0.
 */

import java.util.Arrays;
import org.apache.spark.sql.api.java.UDF3;

public final class LcsUdfs {

    private LcsUdfs() {}

    /** Odd multiplier of the rolling polynomial hash (mod 2^64). */
    private static final long B = 0x100000001B3L | 1L;

    public static boolean sharesSpan(String sa, String sb, int k) {
        if (k <= 0) return true;
        if (sa == null || sb == null) return false;
        int[] a = sa.codePoints().toArray();
        int[] b = sb.codePoints().toArray();
        if (a.length > b.length) { int[] t = a; a = b; b = t; }
        if (a.length < k) return false;
        long bk = 1; // B^k for the rolling removal
        for (int i = 0; i < k; i++) bk *= B;

        // table of a's windows: hash -> start + 1 (0 = empty slot); a window
        // equal to one already stored is skipped, so a repetitive text
        // cannot grow one long probe chain
        int wa = a.length - k + 1;
        int cap = Integer.highestOneBit(wa) << 2;
        int mask = cap - 1;
        long[] keys = new long[cap];
        int[] starts = new int[cap];
        long h = 0;
        for (int i = 0; i < k; i++) h = h * B + a[i];
        for (int p = 0; ; p++) {
            int slot = (int) mix(h) & mask;
            while (starts[slot] != 0
                    && !(keys[slot] == h && sameWindow(a, starts[slot] - 1, a, p, k))) {
                slot = (slot + 1) & mask;
            }
            if (starts[slot] == 0) {
                keys[slot] = h;
                starts[slot] = p + 1;
            }
            if (p + 1 >= wa) break;
            h = h * B - a[p] * bk + a[p + k];
        }

        int wb = b.length - k + 1;
        h = 0;
        for (int i = 0; i < k; i++) h = h * B + b[i];
        for (int p = 0; ; p++) {
            for (int slot = (int) mix(h) & mask; starts[slot] != 0; slot = (slot + 1) & mask) {
                if (keys[slot] == h && sameWindow(a, starts[slot] - 1, b, p, k)) return true;
            }
            if (p + 1 >= wb) return false;
            h = h * B - b[p] * bk + b[p + k];
        }
    }

    private static boolean sameWindow(int[] x, int i, int[] y, int j, int k) {
        return Arrays.equals(x, i, i + k, y, j, j + k);
    }

    /** splitmix64 finalizer: spreads the polynomial hash over the slots. */
    private static long mix(long z) {
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L;
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL;
        return z ^ (z >>> 31);
    }

    /** Spark UDF: (text_a, text_b, k) -> do the texts share a k-code-point span? */
    public static class SharesSpan implements UDF3<String, String, Integer, Boolean> {
        @Override
        public Boolean call(String a, String b, Integer k) {
            return sharesSpan(a, b, k == null ? 0 : k);
        }
    }
}
