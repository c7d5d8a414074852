package klrs;

import java.io.ByteArrayOutputStream;
import java.io.EOFException;
import java.io.IOException;
import java.nio.ByteBuffer;
import java.nio.charset.CodingErrorAction;
import java.nio.charset.StandardCharsets;
import java.util.zip.CRC32;
import java.util.zip.DataFormatException;
import java.util.zip.Inflater;
import java.util.zip.ZipException;

import org.apache.spark.sql.api.java.UDF1;

/**
 * gunzip + UTF-8 decode of a binary column, raising exactly where CPython's
 * {@code gzip.decompress(b).decode("utf-8")} raises: every member is
 * inflated and its CRC32 and ISIZE checked, zero bytes after a member are
 * skipped, any other trailing byte is an error (java.util.zip's
 * GZIPInputStream drops trailing garbage, so it is not used), and the text
 * is decoded with a REPORT-mode UTF-8 decoder. Every malformed input throws
 * an IOException. A null blob gives null.
 */
public final class Gunzip {
  private static final int FHCRC = 2, FEXTRA = 4, FNAME = 8, FCOMMENT = 16;
  private static final String ENDED =
      "Compressed file ended before the end-of-stream marker was reached";

  private Gunzip() {}

  /** Strict mode: a blob CPython cannot decode fails the task. */
  public static final class Strict implements UDF1<byte[], String> {
    @Override
    public String call(byte[] data) throws IOException {
      return data == null ? null : text(data);
    }
  }

  /** Permissive mode: a blob CPython cannot decode gives null. */
  public static final class Try implements UDF1<byte[], String> {
    @Override
    public String call(byte[] data) {
      try {
        return data == null ? null : text(data);
      } catch (IOException e) { // CharacterCodingException included
        return null;
      }
    }
  }

  static String text(byte[] data) throws IOException {
    return StandardCharsets.UTF_8.newDecoder()
        .onMalformedInput(CodingErrorAction.REPORT)
        .onUnmappableCharacter(CodingErrorAction.REPORT)
        .decode(ByteBuffer.wrap(decompress(data)))
        .toString();
  }

  static byte[] decompress(byte[] data) throws IOException {
    ByteArrayOutputStream out = new ByteArrayOutputStream(Math.min(data.length, 1 << 20) * 8);
    byte[] buf = new byte[16384];
    Inflater inflater = new Inflater(true);
    CRC32 crc = new CRC32();
    try {
      int pos = 0;
      while (pos < data.length) {
        pos = skipHeader(data, pos);
        inflater.reset();
        inflater.setInput(data, pos, data.length - pos);
        crc.reset();
        long size = 0;
        while (!inflater.finished()) {
          int n;
          try {
            n = inflater.inflate(buf);
          } catch (DataFormatException e) {
            throw new ZipException("Error -3 while decompressing data: " + e.getMessage());
          }
          if (n == 0 && (inflater.needsInput() || inflater.needsDictionary())) {
            throw new EOFException(ENDED);
          }
          crc.update(buf, 0, n);
          out.write(buf, 0, n);
          size += n;
        }
        pos = data.length - inflater.getRemaining();
        if (data.length - pos < 8) {
          throw new EOFException(ENDED);
        }
        if (le32(data, pos) != crc.getValue()) {
          throw new ZipException("CRC check failed");
        }
        if (le32(data, pos + 4) != (size & 0xffffffffL)) {
          throw new ZipException("Incorrect length of data produced");
        }
        pos += 8;
        while (pos < data.length && data[pos] == 0) {
          pos++;
        }
      }
    } finally {
      inflater.end();
    }
    return out.toByteArray();
  }

  /** The offset of the deflate body of the member whose header starts at p. */
  private static int skipHeader(byte[] d, int p) throws IOException {
    if (d.length - p < 2 || d[p] != 0x1f || (d[p + 1] & 0xff) != 0x8b) {
      throw new ZipException("Not a gzipped file");
    }
    need(d, p + 2, 8); // method, flags, mtime, xfl, os
    if (d[p + 2] != 8) {
      throw new ZipException("Unknown compression method");
    }
    int flags = d[p + 3] & 0xff;
    p += 10;
    if ((flags & FEXTRA) != 0) {
      need(d, p, 2);
      int extra = (d[p] & 0xff) | (d[p + 1] & 0xff) << 8;
      need(d, p + 2, extra);
      p += 2 + extra;
    }
    if ((flags & FNAME) != 0) {
      p = skipString(d, p);
    }
    if ((flags & FCOMMENT) != 0) {
      p = skipString(d, p);
    }
    if ((flags & FHCRC) != 0) {
      need(d, p, 2);
      p += 2;
    }
    return p;
  }

  private static void need(byte[] d, int p, int n) throws EOFException {
    if (d.length - p < n) {
      throw new EOFException(ENDED);
    }
  }

  /** Past a NUL-terminated header string; an unterminated one runs to the end. */
  private static int skipString(byte[] d, int p) {
    while (p < d.length && d[p++] != 0) {}
    return p;
  }

  private static long le32(byte[] d, int p) {
    return (d[p] & 0xffL) | (d[p + 1] & 0xffL) << 8 | (d[p + 2] & 0xffL) << 16
        | (d[p + 3] & 0xffL) << 24;
  }
}
