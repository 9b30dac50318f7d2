package zdss;

/** A Zarr v3 store the reader cannot read: the JVM side of {@code zarrv3.ZarrError}. */
final class ZarrException extends RuntimeException {
  private static final long serialVersionUID = 1L;

  ZarrException(String message) {
    super(message);
  }
}
