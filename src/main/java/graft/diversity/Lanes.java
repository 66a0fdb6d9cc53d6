package graft.diversity;

import jdk.incubator.vector.DoubleVector;
import jdk.incubator.vector.VectorShape;
import jdk.incubator.vector.VectorSpecies;

/**
 * The vector species of the dense distance kernels ({@link PointBlock} and
 * {@link KernelSet}). They are Java {@code static final} fields because the
 * JIT compiles Vector API calls to vector instructions only when the species
 * is a constant, and it treats only static finals as constants; a Scala
 * object's {@code val} is an instance field and is not one.
 *
 * <p>{@code D} is the platform's preferred double species; {@code F} is the
 * float species with the same lane count, so one load of {@code L} floats
 * converts to one vector of {@code L} doubles.
 */
final class Lanes {
  private Lanes() {}

  static final VectorSpecies<Double> D = DoubleVector.SPECIES_PREFERRED;
  static final VectorSpecies<Float> F =
      VectorSpecies.of(float.class, VectorShape.forBitSize(D.vectorBitSize() / 2));
  static final int L = D.length();
}
