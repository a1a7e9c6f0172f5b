/**
 * JVM text-analysis kernels: one-pass replacements for the interpreted
 * higher-order-function Column expressions kept as test twins in
 * oracle/kernels.py.
 *
 * The expression versions (F.aggregate over per-CHARACTER arrays for the
 * rolling fingerprint, repeated F.filter passes over token arrays for
 * language-ID) run in Catalyst's interpreter — measured ~8.4k docs/s for
 * the fingerprint and five full token-array passes for lang-id (PERF.md
 * round 3 / VERDICT round 3 "What's wrong #2"). These kernels compute the
 * SAME values (exact integer/long parity, so every DuckDB oracle twin stays
 * green) in a single JIT-compiled pass per document.
 *
 * Parity contracts (pinned by probe against the Spark expressions):
 * - "characters" are Unicode CODE POINTS: F.split(col, "") yields one
 *   element per code point (surrogate pairs intact) and F.ascii returns the
 *   code point; F.length counts code points.
 * - tokenization is Java regex \s+ = ASCII whitespace only ([ \t\n\x0B\f\r]),
 *   NOT the Python str.split set used by the sketch kernels (FastErUdfs) —
 *   the expression twins are defined via F.split(col, r"\s+").
 * - lowercasing for marker matching follows F.lower (UTF8String.toLowerCase,
 *   locale-independent) = String.toLowerCase(Locale.ROOT) for this data.
 */

import java.util.ArrayList;
import java.util.HashMap;
import java.util.HashSet;
import java.util.Locale;
import java.util.concurrent.ConcurrentHashMap;
import org.apache.spark.sql.api.java.UDF1;
import org.apache.spark.sql.api.java.UDF2;

public class TextUdfs implements UDF1<String, ArrayList<Long>> {

    /** Java regex \s (no UNICODE_CHARACTER_CLASS): ASCII whitespace only. */
    private static boolean isAsciiSpace(char c) {
        return c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r';
    }

    /**
     * Python str.isspace() set (Character.isWhitespace + NEL/NBSP/figure
     * space/narrow NBSP) — used by the n-gram language-ID kernel, whose
     * Python twin normalizes with this exact set. The TOKENIZER kernels
     * above use isAsciiSpace instead (they mirror F.split(col, "\\s+"),
     * which is Java-regex ASCII whitespace).
     */
    private static boolean isPyWhitespace(char c) {
        return Character.isWhitespace(c)
                || c == '\u0085' || c == '\u00A0' || c == '\u2007' || c == '\u202F';
    }

    private static boolean isKept(int cp) {
        // the code points regexp_replace(col, "[^0-9A-Za-z\\s]", "") keeps
        return (cp >= '0' && cp <= '9') || (cp >= 'A' && cp <= 'Z')
                || (cp >= 'a' && cp <= 'z')
                || (cp < 128 && isAsciiSpace((char) cp));
    }

    /**
     * [n_tokens, n_distinct_tokens, n_codepoints, n_kept_codepoints] in one
     * pass — the inputs of token_count / distinct_token_count / punct_ratio
     * / quality_score. Null text -> null (expression semantics: every
     * derived expression is null on null input).
     */
    @Override
    public ArrayList<Long> call(String text) {
        if (text == null) return null;
        int len = text.length();
        long nTok = 0, nCp = 0, nKept = 0;
        HashSet<String> distinct = new HashSet<>();
        int i = 0;
        while (i < len) {
            char c = text.charAt(i);
            if (isAsciiSpace(c)) { nCp++; nKept++; i++; continue; }
            // token scan; surrogate halves are never ASCII space, so code
            // points can never be split across a token boundary
            int start = i;
            int j = scanToken(text, start, distinct);
            nTok++;
            nCp += countCps(text, start, j);
            nKept += countKept(text, start, j);
            i = j;
        }
        ArrayList<Long> out = new ArrayList<>(4);
        out.add(nTok);
        out.add((long) distinct.size());
        out.add(nCp);
        out.add(nKept);
        return out;
    }

    private static int scanToken(String text, int start, HashSet<String> distinct) {
        int len = text.length();
        int j = start;
        while (j < len && !isAsciiSpace(text.charAt(j))) j++;
        distinct.add(text.substring(start, j));
        return j;
    }

    private static long countCps(String text, int from, int to) {
        return text.codePointCount(from, to);
    }

    private static long countKept(String text, int from, int to) {
        long kept = 0;
        int i = from;
        while (i < to) {
            int cp = text.codePointAt(i);
            if (isKept(cp)) kept++;
            i += Character.charCount(cp);
        }
        return kept;
    }

    /**
     * Polynomial rolling hash acc = (acc * 31 + codePoint) mod 1e9+7 over
     * every code point — exactly oracle/kernels.py::rolling_fingerprint
     * (F.aggregate over F.split(col, "") with F.ascii, which the probe
     * shows yields code points). Empty -> 0 (the expression folds an empty
     * filtered array to the 0 seed); null -> null.
     */
    public static class RollingFp implements UDF1<String, Long> {
        @Override
        public Long call(String text) {
            if (text == null) return null;
            long acc = 0;
            int i = 0, len = text.length();
            while (i < len) {
                int cp = text.codePointAt(i);
                acc = (acc * 31 + cp) % 1_000_000_007L;
                i += Character.charCount(cp);
            }
            return acc;
        }
    }

    /**
     * Marker-token counts for EVERY language in one tokenization pass.
     * spec = "lang:w1,w2,...|lang2:w1,..." (parse cached per spec string);
     * returns one count per language in spec order — the JVM twin of K
     * lang_marker_score columns (K interpreted F.filter passes before).
     * Matching is on the F.lower'd token, exact string equality (isin).
     */
    public static class MarkerCounts implements UDF2<String, String, ArrayList<Long>> {
        private static final ConcurrentHashMap<String, HashMap<String, int[]>> CACHE =
                new ConcurrentHashMap<>();

        private static HashMap<String, int[]> parse(String spec) {
            return CACHE.computeIfAbsent(spec, s -> {
                HashMap<String, int[]> m = new HashMap<>();
                String[] langs = s.split("\\|");
                for (int li = 0; li < langs.length; li++) {
                    String[] kv = langs[li].split(":", 2);
                    for (String w : kv[1].split(",")) {
                        int[] cur = m.get(w);
                        if (cur == null) {
                            m.put(w, new int[] {li});
                        } else {
                            int[] nx = java.util.Arrays.copyOf(cur, cur.length + 1);
                            nx[cur.length] = li;
                            m.put(w, nx);
                        }
                    }
                }
                m.put("\u0000__nlang", new int[] {langs.length});
                return m;
            });
        }

        @Override
        public ArrayList<Long> call(String text, String spec) {
            HashMap<String, int[]> markers = parse(spec);
            int nLang = markers.get("\u0000__nlang")[0];
            long[] counts = new long[nLang];
            if (text != null) {
                String low = text.toLowerCase(Locale.ROOT);
                int len = low.length();
                int i = 0;
                while (i < len) {
                    while (i < len && isAsciiSpace(low.charAt(i))) i++;
                    if (i >= len) break;
                    int start = i;
                    while (i < len && !isAsciiSpace(low.charAt(i))) i++;
                    int[] hit = markers.get(low.substring(start, i));
                    if (hit != null) {
                        for (int li : hit) counts[li]++;
                    }
                }
            } else {
                return null;
            }
            ArrayList<Long> out = new ArrayList<>(nLang);
            for (long v : counts) out.add(v);
            return out;
        }
    }

    /**
     * Cavnar-Trenkle n-gram language identification (the classic public
     * "N-Gram-Based Text Categorization" method): the document's top-K
     * character 1..3-gram rank profile is compared to per-language rank
     * profiles by out-of-place distance; the language with the smallest
     * distance wins (ties: first language in spec order).
     *
     * spec = lang \u0002 ng1 \u0001 ng2 ... joined across languages by
     * \u0003, n-grams in RANK ORDER (parse cached per spec string; the
     * Python side builds it from seed corpora via
     * functions/text.py::ngram_lang_profiles).
     *
     * Parity contract with the Python twin (predict_lang_ngram_py):
     * lowercase replicates CPython str.lower() exactly — per-code-point
     * simple lowercase mapping plus the single unconditional one-to-many
     * special case U+0130 -> "i̇" (SpecialCasing.txt); notably NOT
     * String.toLowerCase(Locale.ROOT), whose contextual final-sigma rule
     * ('Σ' at word end -> 'ς') diverges from Python's
     * unconditional 'σ'. Python-whitespace mapped to ' ', n-grams
     * over CODE POINTS, doc profile = top K by (count desc, ngram asc) —
     * tie order is engine-defined for astral-plane n-grams (UTF-16 vs code
     * point comparison), identical for all BMP text modulo Unicode-table
     * version skew between the JVM and CPython. Blank/None -> null.
     */
    public static class NgramLangId
            implements UDF2<String, String, String> {
        private static final int K = 300;

        /** CPython str.lower(): simple per-code-point mapping + U+0130. */
        private static String pyLower(String s) {
            StringBuilder sb = new StringBuilder(s.length());
            s.codePoints().forEach(cp -> {
                if (cp == 0x0130) {
                    sb.append('i').append('\u0307');
                } else {
                    sb.appendCodePoint(Character.toLowerCase(cp));
                }
            });
            return sb.toString();
        }
        private static final ConcurrentHashMap<String, Object[]> CACHE =
                new ConcurrentHashMap<>();

        private static Object[] parse(String spec) {
            return CACHE.computeIfAbsent(spec, s -> {
                String[] parts = s.split("\u0003");
                String[] langs = new String[parts.length];
                @SuppressWarnings("unchecked")
                HashMap<String, Integer>[] profs = new HashMap[parts.length];
                for (int i = 0; i < parts.length; i++) {
                    int sep = parts[i].indexOf('\u0002');
                    langs[i] = parts[i].substring(0, sep);
                    HashMap<String, Integer> prof = new HashMap<>();
                    String[] ngs = parts[i].substring(sep + 1).split("\u0001");
                    for (int r = 0; r < ngs.length; r++) prof.put(ngs[r], r);
                    profs[i] = prof;
                }
                return new Object[] {langs, profs};
            });
        }

        @Override
        public String call(String text, String spec) {
            if (text == null) return null;
            Object[] parsed = parse(spec);
            String[] langs = (String[]) parsed[0];
            @SuppressWarnings("unchecked")
            HashMap<String, Integer>[] profs = (HashMap<String, Integer>[]) parsed[1];

            String low = pyLower(text);
            int[] cps = low.codePoints()
                    .map(cp -> (cp < 0x10000 && isPyWhitespace((char) cp)) ? ' ' : cp)
                    .toArray();
            // trim to the first/last non-space code point (blank -> null)
            int lo = 0, hi = cps.length;
            while (lo < hi && cps[lo] == ' ') lo++;
            while (hi > lo && cps[hi - 1] == ' ') hi--;
            if (lo >= hi) return null;

            HashMap<String, Integer> counts = new HashMap<>();
            for (int n = 1; n <= 3; n++) {
                for (int i = lo; i + n <= hi; i++) {
                    String g = new String(cps, i, n);
                    counts.merge(g, 1, Integer::sum);
                }
            }
            java.util.ArrayList<java.util.Map.Entry<String, Integer>> ents =
                    new java.util.ArrayList<>(counts.entrySet());
            ents.sort((x, y) -> {
                int c = y.getValue() - x.getValue();
                return c != 0 ? c : x.getKey().compareTo(y.getKey());
            });
            int k = Math.min(K, ents.size());

            long bestDist = Long.MAX_VALUE;
            String best = langs.length > 0 ? langs[0] : null;
            for (int li = 0; li < langs.length; li++) {
                long d = 0;
                for (int r = 0; r < k; r++) {
                    Integer rl = profs[li].get(ents.get(r).getKey());
                    d += (rl == null) ? K : Math.abs(r - rl);
                }
                if (d < bestDist) { bestDist = d; best = langs[li]; }
            }
            return best;
        }
    }
}
