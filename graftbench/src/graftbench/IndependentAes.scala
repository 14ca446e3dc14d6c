package graftbench

import java.security.MessageDigest
import javax.crypto.{Cipher, Mac}
import javax.crypto.spec.{IvParameterSpec, SecretKeySpec}

/** The aes_det construction recomputed straight from javax.crypto, apart
  * from the program: keys are SHA-256 of a label plus the context string
  * `keyId:column:userId:appContext`; the 16-byte tag is HMAC-SHA256 of the
  * plaintext and doubles as the AES-CTR IV; ciphertext is `tag ‖ CTR(pt)`.
  */
object IndependentAes {
  final class Siv(context: String) {
    private def sha256(s: String) = MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
    private val key = new SecretKeySpec(sha256("graft-aes-key:" + context), "AES")
    private val macKey = new SecretKeySpec(sha256("graft-aes-iv:" + context), "HmacSHA256")

    def encrypt(plain: Array[Byte]): Array[Byte] = {
      val mac = Mac.getInstance("HmacSHA256")
      mac.init(macKey)
      val tag = java.util.Arrays.copyOf(mac.doFinal(plain), 16)
      val c = Cipher.getInstance("AES/CTR/NoPadding")
      c.init(Cipher.ENCRYPT_MODE, key, new IvParameterSpec(tag))
      tag ++ c.doFinal(plain)
    }
  }

  /** A protected cell: magic 0xD8, version 1, mode, u32 LE plaintext length. */
  def cell(mode: Byte, plain: Array[Byte], ciphertext: Array[Byte]): Array[Byte] = {
    val n = plain.length
    Array[Byte](0xd8.toByte, 1, mode, n.toByte, (n >>> 8).toByte, (n >>> 16).toByte,
      (n >>> 24).toByte) ++ ciphertext
  }
}
