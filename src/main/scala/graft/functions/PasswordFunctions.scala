package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** checkpwd (reference passwordFn worker/task.go:255; bcrypt hashes in
  * types/password.go Encrypt/VerifyPassword).
  *
  * Hashing/verification run as deterministic Scala UDFs around the
  * pure-JVM [[Bcrypt]]: bcrypt's cost parameter makes the CRYPTO the hot
  * path by design (2^cost Blowfish key schedules per call), so the UDF
  * boundary is noise — there is nothing for codegen to win here, and the
  * reference pays the identical per-row bcrypt cost in Go.
  *
  * The pre-round-7 salted iterated SHA-256 scheme is kept as `legacy*`
  * for hashes written by earlier versions of this engine.
  */
object PasswordFunctions {

  /** Stored-format hash: full `$2a$NN$...` bcrypt string, compatible with
    * hashes written by the reference.
    */
  val bcryptHash = udf((password: String, salt: String) =>
    Bcrypt.hashpw(password, salt))

  /** checkpwd(candidate, storedHash) — recompute-and-compare. */
  val bcryptCheck = udf((candidate: String, stored: String) =>
    Bcrypt.checkpw(candidate, stored))

  /** Deterministic `$2a$NN$...` salt derived from a seed column (fixtures
    * only; production salts come from SecureRandom).
    */
  val bcryptSalt = udf((seed: String, cost: Int) =>
    Bcrypt.saltFromSeed(seed, cost))
}
