package graft.ml;

import jdk.incubator.vector.FloatVector;
import jdk.incubator.vector.VectorOperators;
import jdk.incubator.vector.VectorSpecies;

/**
 * SIMD inner loops for the LSTM forward pass (KerasLstm) via the JDK Vector
 * API (incubator module, JDK 16+). LANE-WISE ONLY: every operation maps lane
 * j to exactly the scalar op sequence at index j — no cross-lane reductions
 * (whose accumulation order the Vector API leaves unspecified for floats)
 * and no FMA (single-rounded where the scalar path rounds twice). Precision
 * contract, scoped per method: accum4/accum1 are BIT-IDENTICAL to the scalar
 * loops they replace (mul + left-associated adds, the exact scalar op
 * sequence per lane); gates is TOLERANCE-EQUAL (~1e-7 relative) to the
 * scalar fallback and platform-dependent — its lanewise EXP/TANH lower to
 * whatever vector-math stubs (SVML on x86_64) the host JVM provides, so
 * the scalar fallback and different hosts shift gate outputs in low-order
 * bits. KerasLstmSpec pins the parity
 * against the committed predictions at the fixtures' tolerance; KerasLstm
 * falls back to its scalar loops when this class fails to load (a JVM
 * without the module or with it not --add-modules'd).
 *
 * Why Java and not Scala: scalac cannot compile against an incubator module
 * (it is absent from the default module graph and scalac has no
 * --add-modules); javac accepts it with one flag, and the class surface here
 * is plain float[] so the Scala side never sees a vector type.
 */
public final class VecKernel {
    private VecKernel() {}

    private static final VectorSpecies<Float> S = FloatVector.SPECIES_PREFERRED;

    /** Forces the module + species to initialize; the Scala caller probes
     * this once under try/catch to decide vector vs scalar dispatch. */
    public static int laneCount() {
        return S.length();
    }

    /**
     * z[j] += v0*m[r0+j] + v1*m[r1+j] + v2*m[r2+j] + v3*m[r3+j] for
     * j in [0, width): the 4-rows-per-pass accumulation of
     * KerasLstm.accumulate, lane-parallel over j. Multiplication argument
     * order and the left-to-right add associativity match the scalar
     * expression exactly (IEEE multiply is commutative; adds associate
     * identically per lane).
     */
    public static void accum4(float[] z, float[] m,
                              float v0, float v1, float v2, float v3,
                              int r0, int width) {
        int r1 = r0 + width, r2 = r1 + width, r3 = r2 + width;
        int j = 0;
        int upper = S.loopBound(width);
        for (; j < upper; j += S.length()) {
            FloatVector t = FloatVector.fromArray(S, m, r0 + j).mul(v0);
            t = t.add(FloatVector.fromArray(S, m, r1 + j).mul(v1));
            t = t.add(FloatVector.fromArray(S, m, r2 + j).mul(v2));
            t = t.add(FloatVector.fromArray(S, m, r3 + j).mul(v3));
            FloatVector.fromArray(S, z, j).add(t).intoArray(z, j);
        }
        for (; j < width; j++) {
            z[j] += v0 * m[r0 + j] + v1 * m[r1 + j]
                  + v2 * m[r2 + j] + v3 * m[r3 + j];
        }
    }

    /** z[j] += vk * m[row+j] for j in [0, width): the remainder-row pass. */
    public static void accum1(float[] z, float[] m, float vk,
                              int row, int width) {
        int j = 0;
        int upper = S.loopBound(width);
        for (; j < upper; j += S.length()) {
            FloatVector t = FloatVector.fromArray(S, m, row + j).mul(vk);
            FloatVector.fromArray(S, z, j).add(t).intoArray(z, j);
        }
        for (; j < width; j++) {
            z[j] += vk * m[row + j];
        }
    }

    /**
     * LSTM gate phase over fused pre-activations z = [i(u) | f(u) | g(u) |
     * o(u)]: c = sigmoid(z_f)*c + sigmoid(z_i)*tanh(z_g);
     * h = sigmoid(z_o)*tanh(c), written in place.
     *
     * Activations are FLOAT-precision lanewise EXP/TANH — HotSpot lowers
     * them to the SVML vector-math stubs the JDK ships on x86_64, which is
     * where the scalar gate loop spends ~40% of the whole forward pass in
     * Math.exp. This differs from the scalar fallback's double-precision
     * exp in low-order bits (~1e-7 relative, the same precision class as
     * the float32 reference arithmetic the fixture was generated with);
     * within one JVM every path shares one implementation, so the
     * step/flat/streaming bit-parity specs remain structural. Saturation
     * is intrinsic: EXP(+inf)=inf gives sigmoid 1/(1+inf)=0 and SVML TANH
     * returns ±1 at large |x| — no NaN anywhere on the real line.
     */
    public static void gates(float[] z, float[] c, float[] h, int u) {
        FloatVector one = FloatVector.broadcast(S, 1.0f);
        int j = 0;
        int upper = S.loopBound(u);
        for (; j < upper; j += S.length()) {
            FloatVector i = sigmoidV(FloatVector.fromArray(S, z, j), one);
            FloatVector f = sigmoidV(FloatVector.fromArray(S, z, u + j), one);
            FloatVector g = FloatVector.fromArray(S, z, 2 * u + j)
                .lanewise(VectorOperators.TANH);
            FloatVector o = sigmoidV(FloatVector.fromArray(S, z, 3 * u + j), one);
            FloatVector cv = f.mul(FloatVector.fromArray(S, c, j)).add(i.mul(g));
            cv.intoArray(c, j);
            o.mul(cv.lanewise(VectorOperators.TANH)).intoArray(h, j);
        }
        if (j < u) {
            // Remainder tail as ONE masked vector step, so every element of
            // the array goes through the SAME lanewise EXP/TANH as the full
            // lanes. A scalar Math.exp/Math.tanh tail would differ from the
            // lanes by ~1e-7 PER-ELEMENT WITHIN ONE ARRAY (double- vs
            // float-precision transcendentals), making results depend on
            // where the lane boundary falls; masked lanes load as 0 (exp(0)
            // and tanh(0) are finite) and are never stored.
            var m = S.indexInRange(j, u);
            FloatVector i = sigmoidV(FloatVector.fromArray(S, z, j, m), one);
            FloatVector f = sigmoidV(FloatVector.fromArray(S, z, u + j, m), one);
            FloatVector g = FloatVector.fromArray(S, z, 2 * u + j, m)
                .lanewise(VectorOperators.TANH);
            FloatVector o = sigmoidV(FloatVector.fromArray(S, z, 3 * u + j, m), one);
            FloatVector cv = f.mul(FloatVector.fromArray(S, c, j, m)).add(i.mul(g));
            cv.intoArray(c, j, m);
            o.mul(cv.lanewise(VectorOperators.TANH)).intoArray(h, j, m);
        }
    }

    private static FloatVector sigmoidV(FloatVector x, FloatVector one) {
        return one.div(one.add(x.neg().lanewise(VectorOperators.EXP)));
    }
}
